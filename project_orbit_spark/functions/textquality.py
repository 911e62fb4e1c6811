"""Text analysis for a training-data pipeline: quality scoring,
language-ID heuristics, document fingerprinting.

Extends the reference's text predicates (SURVEY.md §2.2 F10 page-error
heuristics, F11 min-length gates; §2.8 E8 sentiment-lite) into the
scored, filterable form a 100 TB corpus-curation pipeline needs.
All pure Spark SQL expressions — codegen-eligible, zero shuffles
except the final ordering.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_orbit_spark.catalog import barrier_width, load, observed, stage
from project_orbit_spark.registry import register
from project_orbit_spark.session import memo

# Stopword markers per language — the n-gram/stopword-ratio heuristic
# family used for cheap language ID (the corpus text is synthetic, so
# the English list carries the real signal; the scoring machinery is
# what matters).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "y"),
    "fr": ("le", "la", "les", "et"),
}


def quality_score(text: Column, n_chars: Column) -> Column:
    """Composite document quality in [0, 1]: length signal + stopword
    ratio + alpha ratio (shape of the reference's error-page and
    min-length gates, src/scraper_v2.py:1093-1129)."""
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    n_toks = F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and"))
    ) / F.nullif(n_toks, F.lit(0)).cast("double")
    len_score = F.least(n_chars.cast("double") / 500.0, F.lit(1.0))
    alpha_ratio = (
        F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("double")
        / F.nullif(F.length(text), F.lit(0)).cast("double")
    )
    return 0.4 * len_score + 0.3 * F.least(stop_ratio * 4, F.lit(1.0)) + 0.3 * alpha_ratio


@register(
    "doc_quality_scores",
    bench=True,
    tags=("text", "quality"),
    doc="Training-data quality scoring (extends F10/F11 page-error and "
    "length gates, ref src/scraper_v2.py:1093-1129): length, stopword "
    "and alpha ratios folded into one score, plus a keep/drop flag at "
    "the 0.5 threshold.",
    oracle="""
        WITH scored AS (
          SELECT doc_id, lang, n_chars,
                 len(string_split_regex(trim(lower(text)), '\\s+')) AS n_toks,
                 len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                 t -> t IN ('the', 'a', 'of', 'and')))::DOUBLE
                   / nullif(len(string_split_regex(trim(lower(text)), '\\s+')), 0)::DOUBLE
                   AS stop_ratio,
                 least(n_chars::DOUBLE / 500.0, 1.0) AS len_score,
                 length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                   / nullif(length(text), 0)::DOUBLE AS alpha_ratio
          FROM documents
        )
        SELECT doc_id, lang,
               floor((0.4 * len_score + 0.3 * least(stop_ratio * 4, 1.0)
                     + 0.3 * alpha_ratio) * 10000) / 10000 AS quality,
               CAST(0.4 * len_score + 0.3 * least(stop_ratio * 4, 1.0)
                    + 0.3 * alpha_ratio >= 0.5 AS BIGINT) AS keep
        FROM scored
        ORDER BY doc_id
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    q = quality_score(F.col("text"), F.col("n_chars"))
    # floor-quantize rather than round: Spark's round() resolves ties
    # via the double's shortest DECIMAL string (HALF_UP) while DuckDB
    # rounds on the binary value, so string-representable ties like
    # .31525 flip between engines; floor has no tie path.
    return d.select(
        "doc_id",
        "lang",
        (F.floor(q * 10000) / 10000).alias("quality"),
        (q >= 0.5).cast("long").alias("keep"),
    ).orderBy("doc_id")


@register(
    "lang_marker_scores",
    tags=("text", "langid"),
    doc="Language-ID marker scoring (n-gram/stopword heuristic): score "
    "each document against each language's marker lexicon; argmax with "
    "tie-break = predicted language. The synthetic corpus is English-"
    "worded, so the check validates the scoring machinery, not real "
    "langid accuracy.",
    oracle="""
        WITH markers AS (
          SELECT * FROM (VALUES
            ('en', ['the', 'a', 'of', 'and']),
            ('de', ['der', 'die', 'das', 'und']),
            ('es', ['el', 'la', 'los', 'y']),
            ('fr', ['le', 'la', 'les', 'et'])
          ) AS t(cand_lang, marker_list)
        ),
        scored AS (
          SELECT d.doc_id, d.lang AS tagged_lang, m.cand_lang,
                 len(list_filter(string_split_regex(trim(lower(d.text)), '\\s+'),
                                 t -> list_contains(m.marker_list, t)))::BIGINT AS hits
          FROM documents d CROSS JOIN markers m
        )
        SELECT doc_id, tagged_lang, cand_lang AS predicted_lang, hits
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
          FROM scored
        ) t
        WHERE rn = 1
        ORDER BY doc_id
    """,
)
def lang_marker_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    markers = F.array(
        *[
            F.struct(
                F.lit(lang).alias("cand_lang"),
                F.array(*[F.lit(m) for m in ms]).alias("marker_list"),
            )
            for lang, ms in LANG_MARKERS.items()
        ]
    )
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    scored = d.select(
        "doc_id", F.col("lang").alias("tagged_lang"), toks.alias("toks"), F.explode(markers).alias("m")
    ).select(
        "doc_id",
        "tagged_lang",
        F.col("m.cand_lang").alias("cand_lang"),
        F.size(
            F.filter(F.col("toks"), lambda t: F.array_contains(F.col("m.marker_list"), t))
        )
        .cast("long")
        .alias("hits"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand_lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "tagged_lang", F.col("cand_lang").alias("predicted_lang"), "hits")
        .orderBy("doc_id")
    )


@register(
    "doc_fingerprints",
    tags=("text", "fingerprint"),
    doc="Document fingerprinting (C14 extended to winnowing-lite): "
    "normalized-content md5 plus a shingle fingerprint = lexicographic "
    "min/max md5 over word-4-grams — a rolling-hash family that is "
    "portable across engines (SURVEY §7.4: no Python-hash bit parity).",
    oracle="""
        WITH toks AS (
          SELECT doc_id,
                 md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS norm_md5,
                 string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM documents
        ),
        sh AS (
          SELECT doc_id, norm_md5,
                 [md5(array_to_string(t[i:i+3], ' '))
                  for i in range(1, greatest(len(t) - 3, 1) + 1)] AS g
          FROM toks
        )
        SELECT doc_id, norm_md5,
               list_min(g) AS min_shingle_fp,
               list_max(g) AS max_shingle_fp,
               len(list_distinct(g))::BIGINT AS n_distinct_shingles
        FROM sh
        ORDER BY doc_id
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - 4, F.lit(0)))
    grams = F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, 4))))
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")).alias("norm_md5"),
        F.array_min(grams).alias("min_shingle_fp"),
        F.array_max(grams).alias("max_shingle_fp"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct_shingles"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (top distinguishing terms per document)


@register(
    "tfidf_top_terms",
    tags=("text", "retrieval", "aggregate"),
    doc="Per-document keyword extraction: top-3 terms by "
    "tf·ln(N/df) (raw document frequency over the whole corpus, no "
    "term filter — the full-vocabulary twin of the BM25 probe). "
    "Scale shape: one shuffle on term for df, one broadcast of the "
    "corpus size, per-doc rank is a window bounded by the doc's own "
    "vocabulary. Scores rounded to 6dp before ranking so both "
    "engines rank identical values; ties break on term.",
    oracle="""
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
          FROM documents
        ),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ),
        dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY term
        ),
        stats AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT t.doc_id, t.term,
                 round(t.tf * ln(s.n_docs * 1.0 / d.df), 6) AS tfidf
          FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s
        ),
        ranked AS (
          SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS r
          FROM scored
        )
        SELECT doc_id, term, tfidf, r
        FROM ranked WHERE r <= 3
        ORDER BY doc_id, r
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = d.agg(F.count(F.lit(1)).alias("n_docs"))
    # shuffle_hash pin (r15, VERDICT r14 ask #6 follow-through): the
    # static planner broadcast the corpus-derived dfreq aggregate on
    # under-estimated stats — the exact ngram_jaccard_pairs 100x OOM
    # class (the vocabulary table is GBs at 100 TB). The 1-row stats
    # broadcast below is fine; the vocab join is not.
    scored = (
        tf.join(dfreq.hint("shuffle_hash"), "term")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("r", F.row_number().over(w).cast("long"))
        .filter(F.col("r") <= 3)
        .orderBy("doc_id", "r")
    )


@register(
    "unigram_logprob_scores",
    tags=("text", "quality", "langmodel"),
    doc="Unigram language-model quality scoring (the CCNet/Gopher-"
    "style perplexity filter tier, extending F11's static gates with "
    "a corpus-relative signal): per-token log p(token) under the "
    "corpus's own unigram distribution, averaged per document — "
    "boilerplate and gibberish score low, modal text scores high. "
    "Plan shape at 100 TB: the frequency table is one hash aggregate "
    "on token (map-side partials collapse the Zipf head before the "
    "shuffle) and is a persisted vocabulary artifact in production; "
    "the score pass joins tokens back to it under a shuffle_hash pin "
    "(r16: the vocab is corpus-growing and text-valued — the "
    "compressible-build class AQE misjudges, docs/SCALE.md) and the "
    "skew on hot tokens like 'the' is probe-side only (no bucket "
    "blowup). avg rounded 4dp per the registry's float convention.",
    oracle="""
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
          FROM documents
        ),
        freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq)
        SELECT t.doc_id,
               count(*) AS n_toks,
               round(avg(ln(f.cnt::DOUBLE / tot.total)), 4) AS avg_logprob
        FROM tok t JOIN freq f USING (token), tot
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """,
)
def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    tok = d.select("doc_id", F.explode(toks).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("double").alias("total"))
    # shuffle_hash pin (r16 burn-down, VERDICT r15 ask #1): the token
    # frequency table is a corpus-growing, token-string-valued derived
    # build — the compressible class AQE misjudges from compressed
    # shuffle bytes (see score_with_lm's pin_vocab note). The 1-row
    # total broadcast below is fine; the vocab join is not.
    scored = (
        tok.join(freq.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("cnt").cast("double") / F.col("total")).alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.avg("lp"), 4).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "bigram_logprob_scores",
    tags=("text", "quality", "langmodel"),
    bench=True,
    doc="Bigram-interpolated LM quality scoring — the next tier above "
    "unigram_logprob_scores on the road to KenLM-style perplexity "
    "filtering (CCNet trains 5-gram models; interpolation is the "
    "same machinery at n=2): per-bigram "
    "ln(0.7*p(w2|w1) + 0.3*p_uni(w2)) averaged per document, where "
    "p(w2|w1) = c(w1,w2)/c(w1·) from the corpus itself. Bigrams are "
    "formed ARRAY-SIDE (zip_with of two token-array slices in one "
    "projection) so pairing needs no per-doc window shuffle and the "
    "derived split() stays O(len) per document, not O(len^2) — the "
    "CollapseProject discipline from operators/dedup.py. Plan at "
    "100 TB: two count tables, both hash aggregates with map-side "
    "partials — bigram counts c2 and unigram counts; the context "
    "count c1(w1) = sum of c2 over w1 is exact in integers, so it is "
    "a window over c2's w1 exchange and the corpus-sized bigram "
    "stream is aggregated once. In production they are persisted vocabulary "
    "artifacts. The probe joins carry shuffle_hash pins for the "
    "full-fit face (corpus-growing text-valued builds are the "
    "compressible class AQE misjudges — score_with_lm's pin_vocab "
    "note); the incremental face, probing honest-stat persisted "
    "artifacts, keeps batch-side broadcast. Docs with <2 tokens have no "
    "bigrams and drop out, identically in both engines. avg rounded "
    "4dp per the registry's float-summation convention.",
    oracle="""
        WITH base AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS ts
          FROM documents
        ),
        big AS (
          SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
          FROM base, UNNEST(range(1, len(ts))) AS t(i)
        ),
        tok AS (
          SELECT doc_id, ts[i] AS token
          FROM base, UNNEST(range(1, len(ts) + 1)) AS t(i)
        ),
        freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
        c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1)
        SELECT b.doc_id,
               count(*) AS n_bigrams,
               round(avg(ln(
                 0.7 * (c2.c2::DOUBLE / c1.c1) +
                 0.3 * (f.cnt::DOUBLE / tot.total)
               )), 4) AS avg_logprob
        FROM big b
        JOIN c2 USING (w1, w2)
        JOIN c1 USING (w1)
        JOIN freq f ON f.token = b.w2, tot
        GROUP BY b.doc_id
        ORDER BY b.doc_id
    """,
)
def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_scores(load(spark, sf_dir, "documents"))


def bigram_scores(
    d: DataFrame, total: Column | None = None, ordered: bool = True
) -> DataFrame:
    """Library face of ``bigram_logprob_scores``: interpolated bigram
    LM scored over any (doc_id, text) corpus — curation pipelines
    score SCRUBBED text, not the raw crawl (curation_training_gold).
    ``total`` is ``d``'s token count as a Column: a pipeline whose
    counted barrier observed ``token_total`` passes it as a literal;
    by default it is ``freq_total`` of the fitted unigram table. Docs
    with <2 tokens have no bigrams and drop out. ``ordered=False``
    skips the output-contract doc_id sort for pipeline consumers that
    checkpoint or re-aggregate the scores."""
    c2, freq = lm_count_tables(d)
    if total is None:
        total = freq_total(freq)
    return score_with_lm(doc_bigrams(d), c2, freq, total, ordered=ordered)


def token_total() -> Column:
    """Aggregate column over a (doc_id, text) corpus: its token count
    as a double — the bigram LM's ``total``, equal to the sum of
    ``lm_count_tables``' unigram counts (a NULL text has no tokens).
    Observe it on a stage barrier (``catalog.stage``) to read it at
    zero jobs."""
    toks = F.coalesce(F.split(F.trim(F.lower("text")), r"\s+"), F.array())
    return F.sum(F.size(toks)).cast("double")


def freq_total(freq: DataFrame) -> Column:
    """The LM's ``total`` for a scorer with no counted barrier
    upstream: a scalar subquery summing ``freq``'s counts. It stays
    lazy — building the plan runs no job — and the subquery reads the
    same ``freq`` aggregate the scoring joins do."""
    return freq.select(F.sum("cnt").cast("double")).scalar()


def doc_bigrams(d: DataFrame) -> DataFrame:
    """(doc_id, text) → the per-doc bigram stream (doc_id, w1, w2),
    formed ARRAY-SIDE (zip_with of two token-array slices) so pairing
    needs no per-doc window shuffle."""
    ts = F.split(F.trim(F.lower("text")), r"\s+")
    pair = F.zip_with(
        F.slice(ts, 1, F.size(ts) - 1),
        F.slice(ts, 2, F.size(ts) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return d.select("doc_id", F.explode(pair).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def lm_count_tables(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The interpolated bigram LM's two count tables fitted on corpus
    ``d``: ``c2`` (w1, w2, c2, c1) and ``freq`` (token, cnt). The
    context count c1(w1) = Σ_w2 c2(w1, w2) is exact in integers, so
    it is a window over c2's w1 exchange — the corpus-sized bigram
    stream is aggregated once, and no join attaches c1. The LM's
    fourth parameter, the token ``total``, is a Column the caller
    supplies (``token_total``, ``freq_total``). At 100 TB these are
    the persisted vocabulary artifacts the offline LM-fit job
    maintains; the incremental face probes them instead of refitting
    (operators/corpus.py::warm_curation_artifacts)."""
    ts = F.split(F.trim(F.lower("text")), r"\s+")
    tok = d.select("doc_id", F.explode(ts).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    c2 = (
        doc_bigrams(d)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .withColumn("c1", F.sum("c2").over(Window.partitionBy("w1")))
    )
    return c2, freq


def score_with_lm(
    big: DataFrame,
    c2: DataFrame,
    freq: DataFrame,
    total: Column,
    pin_vocab: bool = True,
    ordered: bool = True,
) -> DataFrame:
    """Score a (doc_id, w1, w2) bigram stream against the LM count
    tables of ``lm_count_tables`` → (doc_id, n_bigrams, avg_logprob).
    INNER joins: bigrams the LM has never seen drop out of the average
    (when the stream comes from the fitted corpus itself, every bigram
    is known and this is exactly the full-fit scoring; the incremental
    face's 'score what the model knows' contract falls out of the same
    joins). ``total`` is the fitted corpus's token count as a double
    Column (a literal from a counted barrier, or ``freq_total``), so
    scoring plans no join for it.

    ``pin_vocab``: the count tables are corpus-derived,
    corpus-GROWING, and token-string-valued — exactly the
    compressible-build class whose shuffle bytes AQE under-reads
    5-20x (docs/SCALE.md, the ngram_jaccard_pairs OOM mechanism), so
    a "fits" verdict at the stage boundary can still materialize a
    GB-plus driver HashedRelation. Full-fit callers
    (bigram_logprob_scores, ccnet_perplexity_bands, the curation
    golds) keep the default True: both joins get shuffle_hash pins.
    The incremental face passes False: its count tables are
    PERSISTED artifacts whose InMemoryRelation stats are exact
    materialized sizes (not guessed, not compressed — the
    self-correcting class), and its O(new) batch side is the
    legitimate broadcast candidate."""
    lp = F.log(
        0.7 * (F.col("c2").cast("double") / F.col("c1"))
        + 0.3 * (F.col("cnt").cast("double") / total.cast("double"))
    )
    if pin_vocab:
        # ONE scored-vocab table keyed (w1, w2): c2 is unique on
        # (w1, w2) and freq on token, so big ⋈ vocab ≡ big ⋈ c2 ⋈ freq
        # exactly — the corpus-sized occurrence stream crosses ONE
        # exchange, the c2 ⋈ freq join is vocab-sized. Both build
        # sides are the corpus-growing token-string-valued class AQE
        # misjudges, so both joins are shuffle_hash-pinned
        # (test_lm_vocab_joins_are_never_static_broadcasts).
        vocab = c2.join(freq.hint("shuffle_hash"), F.col("token") == F.col("w2")).select(
            "w1", "w2", lp.alias("lp")
        )
        scored = big.join(vocab.hint("shuffle_hash"), ["w1", "w2"]).select(
            "doc_id", "lp"
        )
    else:
        # incremental face: the count tables are persisted artifacts
        # and the O(new) batch stream is the legitimate broadcast
        # side per join — pre-joining the artifacts here would make
        # every batch pay an O(vocab) vocab⋈vocab build, so the
        # probe-per-table chain stays.
        scored = (
            big.join(c2, ["w1", "w2"])
            .join(freq, F.col("token") == F.col("w2"))
            .select("doc_id", lp.alias("lp"))
        )
    out = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
    )
    # the doc_id sort is the registered faces' OUTPUT contract, not a
    # semantic need — pipeline consumers that checkpoint/re-aggregate
    # the scores skip it
    return out.orderBy("doc_id") if ordered else out


@register(
    "ccnet_perplexity_bands",
    # Was driver=False for round 11 only (case 2, registry.py:39);
    # flipped per the register()-site note (VERDICT r11 ask #1).
    driver=True,
    bench=True,
    tags=("text", "quality", "langmodel", "corpus"),
    doc="CCNet-style head/middle/tail perplexity banding — the "
    "stratification stage downstream of the LM scorer (CCNet splits "
    "each language's crawl into terciles by 5-gram-LM perplexity and "
    "trains on the head; same machinery here at n=2 over "
    "bigram_logprob_scores, whose plan this REUSES verbatim). Band "
    "cutoffs are score VALUES, not per-doc ranks: the distinct-score "
    "table is BOUNDED (scores are rounded to 4dp over a few-nats "
    "range, so at most ~10^5 rows at ANY corpus size); it is "
    "collected and its cumulative count runs on the driver, and the "
    "two (cut1, cut2) cutoffs come back as double literals, so "
    "per-doc assignment is MAP-ONLY — no single-partition window, no "
    "cross join. Ties at a cutoff all land in the higher band, "
    "exactly like CCNet's value-quantile buckets; ceil arithmetic is "
    "integer ((n+2) div 3), so both engines cut at identical counts.",
    oracle="""
        WITH base AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS ts
          FROM documents
        ),
        big AS (
          SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
          FROM base, UNNEST(range(1, len(ts))) AS t(i)
        ),
        tok AS (
          SELECT doc_id, ts[i] AS token
          FROM base, UNNEST(range(1, len(ts) + 1)) AS t(i)
        ),
        freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
        c2t AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
        c1t AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
        scores AS (
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
        n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM dist),
        cuts AS (
          SELECT max(CASE WHEN cum >= (n + 2) // 3
                     THEN avg_logprob END) AS cut1,
                 max(CASE WHEN cum >= (2 * n + 2) // 3
                     THEN avg_logprob END) AS cut2
          FROM cum, n
        )
        SELECT s.doc_id, s.avg_logprob,
               CASE WHEN s.avg_logprob >= c.cut1 THEN 'head'
                    WHEN s.avg_logprob >= c.cut2 THEN 'middle'
                    ELSE 'tail' END AS band
        FROM scores s, cuts c
        ORDER BY s.doc_id
    """,
)
def ccnet_perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    # perplexity_bands consumes scores twice (cutoff derivation + band
    # assignment), and exchange reuse does not reliably dedup the
    # duplicated LM subtree, so the narrow (doc_id, double) scores are
    # a barrier — the same one the curation pipeline places here. Its
    # observed row count is the cutoffs' n.
    scores = stage(ccnet_scores(spark, sf_dir), "ccnet.scores")
    return perplexity_bands(scores, observed(scores)["rows"])


def ccnet_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact (doc_id, avg_logprob) frame ``ccnet_perplexity_bands``
    checkpoints — exposed UN-barriered so plan-pin tests can audit the
    LM-vocab join strategy the barrier otherwise truncates to a
    ``Scan ExistingRDD`` (guard convention: pin the plan of the frame
    BEING checkpointed, not the consumer's). ordered=False: the
    banding re-aggregates the scores, so bigram_logprob_scores' output
    sort would be a wasted corpus-wide range exchange here."""
    return bigram_scores(load(spark, sf_dir, "documents"), ordered=False).select(
        "doc_id", "avg_logprob"
    )


def perplexity_bands(scores: DataFrame, n: int) -> DataFrame:
    """Library face of ``ccnet_perplexity_bands``: tercile-band any
    (doc_id, avg_logprob) score table of ``n`` rows by VALUE cutoffs
    derived from the bounded distinct-score domain (see the
    register() doc)."""
    return (
        band_with_cutoffs(scores, *tercile_cutoffs(scores, n))
        .select("doc_id", "avg_logprob", "band")
        .orderBy("doc_id")
    )


def tercile_cutoffs(scores: DataFrame, n: int) -> tuple[float | None, float | None]:
    """The (cut1, cut2) tercile cutoffs of a (…, avg_logprob) score
    table of ``n`` rows (a counted barrier's ``rows``): cut1 is the
    highest score whose descending cumulative count reaches
    (n+2) div 3, cut2 the same for (2n+2) div 3 — the oracle's
    ``max(CASE WHEN cum >= … )``. Python floats round-trip doubles, so
    the cutoffs are the exact score values. ``n == 0`` (or a cut no
    score reaches) gives ``None``, which matches no score.

    The rows collected are the distinct scores and their counts (two
    jobs: the aggregate's map stage and the collect)."""
    if n == 0:
        return None, None
    # bound: ≤10^5 rows — 4-dp scores over a few-nats range, at any
    # corpus size
    dist = scores.groupBy("avg_logprob").agg(F.count(F.lit(1)).alias("cnt"))
    need1, need2 = (n + 2) // 3, (2 * n + 2) // 3
    cut1 = cut2 = None
    cum = 0
    # NULL scores sort last (as in the oracle's DESC order) and can
    # never be a cut, so skipping them leaves both cuts unchanged
    for score, cnt in sorted((r for r in dist.collect() if r[0] is not None), reverse=True):
        cum += cnt
        if cut1 is None and cum >= need1:
            cut1 = score
        if cum >= need2:
            cut2 = score
            break
    return cut1, cut2


def band_with_cutoffs(
    scores: DataFrame, cut1: float | None, cut2: float | None
) -> DataFrame:
    """``scores`` with a head/middle/tail ``band`` column from the two
    tercile cutoffs, a map-only projection over double literals. Ties
    land in the higher band (test-pinned); a ``None`` cutoff matches no
    score, so ``(None, None)`` bands every row tail."""
    score = F.col("avg_logprob")
    band = (
        F.when(score >= F.lit(cut1).cast("double"), "head")
        .when(score >= F.lit(cut2).cast("double"), "middle")
        .otherwise("tail")
    )
    return scores.withColumn("band", band)


VOCAB_TOP_K = 16  # fixture-calibrated: the synthetic corpus has 31
# distinct tokens, so 16 leaves a real OOV tail at every SF;
# production uses O(100k) with the SAME plan (TakeOrdered over the
# bounded distinct-token table + a broadcast probe)


@register(
    "vocab_coverage_oov",
    # Was driver=False for round 11 only (case 2, registry.py:39);
    # flipped per the register()-site note (VERDICT r11 ask #1).
    # bench rotation r14 (VERDICT r13 ask #6): dropped from headline set.
    driver=True,
    tags=("text", "tokens", "quality", "corpus"),
    doc="Tokenizer-vocabulary coverage audit: build the top-K "
    "corpus vocabulary by frequency (ties broken by token, so the "
    "boundary is deterministic in both engines) and score every "
    "document's out-of-vocabulary rate — the pre-training check "
    "that a tokenizer's vocab actually covers the corpus it will "
    "tokenize, and the per-doc signal that flags gibberish/wrong-"
    "script outliers a frequency-trained vocab can't encode. Plan: "
    "one token-frequency aggregate (map-side partials, 8-byte-ish "
    "short-string keys), a TakeOrdered top-K on the BOUNDED "
    "distinct-token table (vocab size is a constant, never corpus-"
    "sized), the K-row vocab broadcast back over the token stream, "
    "one per-doc regroup. No rank window, no corpus-wide sort.",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
          FROM documents
        ),
        freq AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        vocab AS (
          SELECT token FROM freq ORDER BY cnt DESC, token LIMIT {VOCAB_TOP_K}
        )
        SELECT t.doc_id,
               count(*) AS n_tokens,
               CAST(count(*) FILTER (v.token IS NULL) AS BIGINT) AS n_oov,
               round(count(*) FILTER (v.token IS NULL)::DOUBLE
                     / count(*), 4) AS oov_rate
        FROM tok t LEFT JOIN vocab v USING (token)
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """,
)
def vocab_coverage_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
    )
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(VOCAB_TOP_K)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    # the vocab is exactly K rows by construction — unconditional
    # broadcast is bounded by the limit, not by corpus growth
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
            F.round(
                F.sum(F.col("in_vocab").isNull().cast("int")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


def warm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The existing corpus's top-K vocabulary, a session artifact
    (``session.memo``) — at 100 TB a stored artifact the offline vocab
    job refreshes.
    Lifecycle: merge/compact/expire transfers from refresh_segment_index +
    refresh_band_index (dt-partitioned rows, no cross-row state), proven
    by their compaction-invariance oracles."""
    return memo(
        spark,
        ("vocab", sf_dir),
        lambda: load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(VOCAB_TOP_K)
        .select("token", F.lit(True).alias("in_vocab")),
    )


@register(
    "incremental_vocab_oov",
    # Was driver=False for round 11 only (case 2, registry.py:39);
    # flipped per the register()-site note (VERDICT r11 ask #1).
    # bench rotation r14 (VERDICT r13 ask #6): dropped from headline set.
    driver=True,
    tags=("text", "tokens", "quality", "incremental"),
    prepare=warm_vocab,
    doc="Incremental face of vocab_coverage_oov and the FIFTH instance "
    "of the engine's incremental-index contract (minhash band index, "
    "embedding vector index, span index, k-means model — now the "
    "vocabulary): an incoming batch (every-7th doc with drifted "
    "tokens appended, the usual synthesized-batch convention) scores "
    "its OOV rate against the EXISTING corpus's persisted top-K "
    "vocabulary — O(new) per run, the fitted corpus is never "
    "re-tokenized or re-counted. The K-row vocab broadcasts; the "
    "batch streams past it map-only + one per-doc regroup. The OOV "
    "drift this catches is the production signal for when the "
    "offline vocab artifact needs a refresh.",
    oracle=f"""
        WITH base_tok AS (
          SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
          FROM documents
        ),
        freq AS (SELECT token, count(*) AS cnt FROM base_tok GROUP BY token),
        vocab AS (
          SELECT token FROM freq ORDER BY cnt DESC, token LIMIT {VOCAB_TOP_K}
        ),
        new_tok AS (
          SELECT doc_id + 200000 AS doc_id,
                 unnest(string_split_regex(trim(lower(
                   text || ' zq9x vvqk unseen drift')), '\\s+')) AS token
          FROM documents WHERE doc_id % 7 = 0
        )
        SELECT t.doc_id AS new_id,
               count(*) AS n_tokens,
               CAST(count(*) FILTER (v.token IS NULL) AS BIGINT) AS n_oov,
               round(count(*) FILTER (v.token IS NULL)::DOUBLE
                     / count(*), 4) AS oov_rate
        FROM new_tok t LEFT JOIN vocab v USING (token)
        GROUP BY t.doc_id
        ORDER BY new_id
    """,
)
def incremental_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    new_batch = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("new_id"),
        F.concat("text", F.lit(" zq9x vvqk unseen drift")).alias("text"),
    )
    tok = new_batch.select(
        "new_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
    )
    vocab = warm_vocab(spark, sf_dir)
    return (
        tok.join(F.broadcast(vocab), "token", "left")
        .groupBy("new_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
            F.round(
                F.sum(F.col("in_vocab").isNull().cast("int")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("oov_rate"),
        )
        .orderBy("new_id")
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
# Models", Table A1): the public repetition-signal bank a web-scale
# curation pipeline runs between exact dedup and quality scoring.
# ---------------------------------------------------------------------------

# Keep-thresholds ADAPTED to the synthetic corpus so the flag is
# non-vacuous both ways (Gopher's published web-text numbers are
# top-{2,3,4}-gram <= 0.20/0.18/0.16 and dup-{5..10}-gram <= 0.15..0.10;
# this word-salad fixture has its repetition mass at n=2..4, measured
# at sf0.01: p80(top2)=0.108, 27/500 docs with dup3>0).
# Shared oracle CTE bank for the repetition-feature family (gopher
# signals, ensemble filter, report card): ONE SQL definition of the
# per-doc n-gram char fractions, so the three oracles cannot drift
# (the curate_batch lesson, ADVICE r12 #3, applied to SQL literals).
# Produces base(doc_id, t, total_chars) and
# fr(doc_id, top2_frac, top3_frac, dup3_frac, dup4_frac).
_REPETITION_FRACS_CTES = r"""tok AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\s+') AS t
          FROM documents
        ),
        base AS (
          SELECT doc_id, t,
                 CAST(len(array_to_string(t, ' ')) AS BIGINT) AS total_chars
          FROM tok WHERE len(t) >= 1
        ),
        grams AS (
          SELECT b.doc_id, ns.n, u.gram
          FROM base b,
               (VALUES (2), (3), (4)) AS ns(n),
               UNNEST(CASE WHEN len(b.t) >= ns.n
                      THEN list_transform(range(0, len(b.t) - ns.n + 1),
                             i -> array_to_string(
                               list_slice(b.t, i + 1, i + ns.n), ' '))
                      ELSE [] END) AS u(gram)
        ),
        cnt AS (
          SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c,
                 CAST(len(gram) AS BIGINT) AS chars
          FROM grams GROUP BY doc_id, n, gram
        ),
        per_n AS (
          SELECT doc_id, n,
                 CAST(max(c * chars) AS BIGINT) AS top_chars,
                 CAST(coalesce(
                   sum(CASE WHEN c > 1 THEN c * chars END), 0) AS BIGINT)
                   AS dup_chars
          FROM cnt GROUP BY doc_id, n
        ),
        piv AS (
          SELECT doc_id,
                 coalesce(max(CASE WHEN n = 2 THEN top_chars END), 0) AS top2,
                 coalesce(max(CASE WHEN n = 3 THEN top_chars END), 0) AS top3,
                 coalesce(max(CASE WHEN n = 3 THEN dup_chars END), 0) AS dup3,
                 coalesce(max(CASE WHEN n = 4 THEN dup_chars END), 0) AS dup4
          FROM per_n GROUP BY doc_id
        ),
        fr AS (
          SELECT b.doc_id,
                 CASE WHEN b.total_chars > 0 THEN
                   floor(least(1.0, CAST(coalesce(p.top2, 0) AS DOUBLE)
                     / b.total_chars) * 1000000) / 1000000 END AS top2_frac,
                 CASE WHEN b.total_chars > 0 THEN
                   floor(least(1.0, CAST(coalesce(p.top3, 0) AS DOUBLE)
                     / b.total_chars) * 1000000) / 1000000 END AS top3_frac,
                 CASE WHEN b.total_chars > 0 THEN
                   floor(least(1.0, CAST(coalesce(p.dup3, 0) AS DOUBLE)
                     / b.total_chars) * 1000000) / 1000000 END AS dup3_frac,
                 CASE WHEN b.total_chars > 0 THEN
                   floor(least(1.0, CAST(coalesce(p.dup4, 0) AS DOUBLE)
                     / b.total_chars) * 1000000) / 1000000 END AS dup4_frac
          FROM base b LEFT JOIN piv p USING (doc_id)
        )"""

# The 4dp-quantized composite quality as an exact BIGINT (shared by
# the ensemble filter and the report card oracles).
_QUALITY_INT_SQL = r"""CAST(floor((0.4 * least(n_chars::DOUBLE / 500.0, 1.0)
                   + 0.3 * least(
                       len(list_filter(
                         string_split_regex(trim(lower(text)), '\s+'),
                         t -> t IN ('the', 'a', 'of', 'and')))::DOUBLE
                       / nullif(len(string_split_regex(
                           trim(lower(text)), '\s+')), 0)::DOUBLE * 4,
                       1.0)
                   + 0.3 * (length(
                       regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                       / nullif(length(text), 0)::DOUBLE)) * 10000)
                   AS BIGINT)"""


_GOPHER_KEEP = {
    "top2_frac": 0.12,
    "top3_frac": 0.14,
    "dup3_frac": 0.03,
    "dup4_frac": 0.02,
}


@register(
    "gopher_repetition_signals",
    bench=True,  # bench rotation r14 (VERDICT r13 ask #6): heavy r13 op into headline set
    tags=("text", "quality", "corpus"),
    doc="Gopher repetition-filter bank (public: Rae et al. 2021 Table "
    "A1; the same signals FineWeb/Dolma re-implement): per document, "
    "the fraction of characters covered by the single most-repeated "
    "{2,3}-gram (count x chars of the densest n-gram, capped at 1) "
    "and the fraction covered by DUPLICATE {3,4}-grams (all n-grams "
    "occurring >1 time; overlapping occurrences each count, as in "
    "the paper). keep=1 iff every signal is under its threshold. "
    "Plan: one token split, ONE flatten+explode producing the "
    "(n, gram) stream for all three n in a single corpus pass, "
    "count aggregate keyed (doc_id, n, gram) — per-doc key space, "
    "map-side combinable, no cross-document key skew — then two "
    "narrow per-doc reductions. All ratios are single IEEE "
    "divisions of exact BIGINTs, floor-quantized to 6dp (no "
    "HALF_UP tie path), so both engines emit bit-identical "
    "doubles. Scales linearly: nothing in the plan touches two "
    "documents' rows in one task.",
    oracle=f"""
        WITH {_REPETITION_FRACS_CTES}
        SELECT doc_id, top2_frac, top3_frac, dup3_frac, dup4_frac,
               CAST(top2_frac <= 0.12 AND top3_frac <= 0.14
                AND dup3_frac <= 0.03 AND dup4_frac <= 0.02
                AS BIGINT) AS keep
        FROM fr ORDER BY doc_id
    """,
)
def gopher_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True, fan_out_cols=("doc_id",))
    return repetition_signals(d.select("doc_id", "text"))


def repetition_signals(d: DataFrame) -> DataFrame:
    """Library face of ``gopher_repetition_signals`` over any
    (doc_id, text) corpus."""
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    base = (
        d.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 1)
        .withColumn(
            "total_chars", F.length(F.concat_ws(" ", "t")).cast("long")
        )
    )

    def grams(n: int):
        # sequence() guards on size >= n: sequence(0, negative) would
        # DESCEND in Spark, fabricating windows — the when() branch is
        # only evaluated on matching rows (codegen CASE short-circuit).
        windows = F.transform(
            F.sequence(F.lit(0), F.size("t") - n),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", F.slice("t", i + 1, n)).alias("gram"),
            ),
        )
        return F.when(F.size("t") >= n, windows).otherwise(
            F.array().cast("array<struct<n:int,gram:string>>")
        )

    stream = base.select(
        "doc_id",
        F.explode(F.flatten(F.array(grams(2), grams(3), grams(4)))).alias(
            "g"
        ),
    ).select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    cnt = (
        stream.groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("chars", F.length("gram").cast("long"))
    )
    per_n = cnt.groupBy("doc_id", "n").agg(
        F.max(F.col("c") * F.col("chars")).alias("top_chars"),
        F.coalesce(
            F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("chars"))),
            F.lit(0),
        )
        .cast("long")
        .alias("dup_chars"),
    )
    piv = per_n.groupBy("doc_id").agg(
        F.coalesce(
            F.max(F.when(F.col("n") == 2, F.col("top_chars"))), F.lit(0)
        ).alias("top2"),
        F.coalesce(
            F.max(F.when(F.col("n") == 3, F.col("top_chars"))), F.lit(0)
        ).alias("top3"),
        F.coalesce(
            F.max(F.when(F.col("n") == 3, F.col("dup_chars"))), F.lit(0)
        ).alias("dup3"),
        F.coalesce(
            F.max(F.when(F.col("n") == 4, F.col("dup_chars"))), F.lit(0)
        ).alias("dup4"),
    )

    def frac(c: Column) -> Column:
        # zero-chars guard (ADVICE r13): an empty/whitespace-only doc
        # has total_chars=0, where Spark's Divide yields NULL but
        # DuckDB's double division yields inf/nan — and least()
        # IGNORES nulls on both engines, so a divisor-level nullif
        # alone would be masked back to 1.0; the whole fraction must
        # be NULL for degenerate docs, hence the outer when()
        return F.when(
            F.col("total_chars") > 0,
            F.floor(
                F.least(
                    F.lit(1.0),
                    F.coalesce(c, F.lit(0)).cast("double")
                    / F.col("total_chars"),
                )
                * 1000000
            )
            / 1000000,
        )

    return (
        base.select("doc_id", "total_chars")
        .join(piv, "doc_id", "left")
        .select(
            "doc_id",
            frac(F.col("top2")).alias("top2_frac"),
            frac(F.col("top3")).alias("top3_frac"),
            frac(F.col("dup3")).alias("dup3_frac"),
            frac(F.col("dup4")).alias("dup4_frac"),
        )
        .withColumn(
            "keep",
            (
                (F.col("top2_frac") <= _GOPHER_KEEP["top2_frac"])
                & (F.col("top3_frac") <= _GOPHER_KEEP["top3_frac"])
                & (F.col("dup3_frac") <= _GOPHER_KEEP["dup3_frac"])
                & (F.col("dup4_frac") <= _GOPHER_KEEP["dup4_frac"])
            ).cast("long"),
        )
        .orderBy("doc_id")
    )


@register(
    "quality_ensemble_filter",
    bench=True,  # bench rotation r14 (VERDICT r13 ask #6): heavy r13 op into headline set
    tags=("text", "quality", "corpus"),
    doc="Model-based quality filtering, the composed stage "
    "FineWeb-Edu/DCLM run with a trained classifier — here a "
    "deterministic linear model over the engine's own signal bank "
    "(the pluggable-scorer convention of llm_extract_funding_stub: "
    "swap in real classifier weights, the plan shape is identical): "
    "score = quality - 2*top2gram_frac - 4*dup3gram_frac over the "
    "QUANTIZED features, so every term is a bit-identical double in "
    "both engines and the arithmetic is parenthesized identically; "
    "keep at score >= 0.45 (splits the fixture ~45/55, non-vacuous "
    "both ways). Plan: the quality term is map-only; the repetition "
    "features arrive from the signal bank's per-doc keyed aggregate; "
    "ONE per-doc join stitches them — nothing couples two documents.",
    oracle=f"""
        WITH q AS (
          SELECT doc_id, {_QUALITY_INT_SQL} AS q_int
          FROM documents
        ),
        {_REPETITION_FRACS_CTES}
        SELECT q.doc_id,
               floor((q.q_int / 10000.0 - 2.0 * f.top2_frac
                     - 4.0 * f.dup3_frac) * 10000) / 10000
                 AS ensemble_score,
               CAST(floor((q.q_int / 10000.0 - 2.0 * f.top2_frac
                     - 4.0 * f.dup3_frac) * 10000) / 10000 >= 0.45
                 AS BIGINT) AS keep
        FROM q JOIN fr f USING (doc_id)
        ORDER BY doc_id
    """,
)
def quality_ensemble_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True, fan_out_cols=("doc_id",))
    return ensemble_scores(d)


def ensemble_scores(d: DataFrame) -> DataFrame:
    """Library face of ``quality_ensemble_filter`` over any
    (doc_id, text, n_chars) frame — shared with the streaming twin
    (streaming/curation.py::stream_quality_filter), which scores each
    micro-batch with this identical plan."""
    q = d.select(
        "doc_id",
        (
            F.floor(quality_score(F.col("text"), F.col("n_chars")) * 10000)
            / 10000
        ).alias("quality"),
    )
    feats = repetition_signals(d.select("doc_id", "text")).select(
        "doc_id", "top2_frac", "dup3_frac"
    )
    score = F.floor(
        (
            F.col("quality")
            - F.lit(2.0) * F.col("top2_frac")
            - F.lit(4.0) * F.col("dup3_frac")
        )
        * 10000
    ) / 10000
    return (
        q.join(feats, "doc_id")
        .select(
            "doc_id",
            score.alias("ensemble_score"),
            (score >= 0.45).cast("long").alias("keep"),
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_report_card",
    tags=("text", "quality", "corpus", "profiling"),
    doc="Per-language dataset report card (the 'nutrition label' a "
    "curation pipeline publishes with every corpus release — datasheet "
    "/ dataset-card practice): document and exact-token counts, "
    "exact-duplicate rate (md5 full-text groups), mean composite "
    "quality, and the keep rates of the repetition bank and the "
    "ensemble filter, one row per language. Numeric contract: mean "
    "quality is the sum of the 4dp-QUANTIZED per-doc scores carried "
    "as exact integers (floor(q*10000) summed as BIGINT — integer "
    "sums are order-free, so no cross-engine float-summation risk), "
    "divided once at the end; every rate is a single division of "
    "exact counts, floor-quantized to 4dp. Plan: the per-doc feature "
    "columns are map-only or per-doc keyed (quality, repetition "
    "fracs), the dup flag is one md5 aggregate joined back, then ONE "
    "per-lang reduction — the whole card is two keyed shuffles over "
    "features the pipeline computes anyway.",
    oracle=f"""
        WITH q AS (
          SELECT doc_id, lang,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens,
                 {_QUALITY_INT_SQL} AS q_int,
                 md5(text) AS content_hash
          FROM documents
        ),
        dupf AS (
          SELECT content_hash, count(*) > 1 AS is_dup
          FROM q GROUP BY content_hash
        ),
        {_REPETITION_FRACS_CTES},
        per_doc AS (
          SELECT q.lang, q.n_tokens, q.q_int, d.is_dup,
                 CAST(fr.top2_frac <= 0.12 AND fr.top3_frac <= 0.14
                  AND fr.dup3_frac <= 0.03 AND fr.dup4_frac <= 0.02
                  AS BIGINT) AS gopher_keep,
                 CAST(floor((q.q_int / 10000.0 - 2.0 * fr.top2_frac
                       - 4.0 * fr.dup3_frac) * 10000) / 10000 >= 0.45
                   AS BIGINT) AS ensemble_keep
          FROM q
          JOIN dupf d USING (content_hash)
          JOIN fr ON fr.doc_id = q.doc_id
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
                 AS exact_dup_docs,
               floor(sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) * 10000) / 10000 AS dup_rate,
               floor(CAST(sum(q_int) AS DOUBLE) / count(*)) / 10000
                 AS avg_quality,
               floor(sum(gopher_keep)::DOUBLE / count(*) * 10000) / 10000
                 AS gopher_keep_rate,
               floor(sum(ensemble_keep)::DOUBLE / count(*) * 10000) / 10000
                 AS ensemble_keep_rate
        FROM per_doc
        GROUP BY lang
        ORDER BY lang
    """,
)
def corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True, fan_out_cols=("doc_id",))
    q = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        F.floor(quality_score(F.col("text"), F.col("n_chars")) * 10000)
        .cast("long")
        .alias("q_int"),
        F.md5("text").alias("content_hash"),
    )
    dupf = q.groupBy("content_hash").agg(
        (F.count(F.lit(1)) > 1).alias("is_dup")
    )
    fr = repetition_signals(d.select("doc_id", "text"))
    per_doc = (
        q.join(dupf, "content_hash")
        .join(fr.select("doc_id", "top2_frac", "top3_frac", "dup3_frac", "dup4_frac"), "doc_id")
        .select(
            "lang",
            "n_tokens",
            "q_int",
            "is_dup",
            (
                (F.col("top2_frac") <= _GOPHER_KEEP["top2_frac"])
                & (F.col("top3_frac") <= _GOPHER_KEEP["top3_frac"])
                & (F.col("dup3_frac") <= _GOPHER_KEEP["dup3_frac"])
                & (F.col("dup4_frac") <= _GOPHER_KEEP["dup4_frac"])
            )
            .cast("long")
            .alias("gopher_keep"),
            (
                F.floor(
                    (
                        F.col("q_int") / 10000.0
                        - F.lit(2.0) * F.col("top2_frac")
                        - F.lit(4.0) * F.col("dup3_frac")
                    )
                    * 10000
                )
                / 10000
                >= 0.45
            )
            .cast("long")
            .alias("ensemble_keep"),
        )
    )
    n = F.count(F.lit(1))
    return (
        per_doc.groupBy("lang")
        .agg(
            n.alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.col("is_dup").cast("long")).alias("exact_dup_docs"),
            (
                F.floor(
                    F.sum(F.col("is_dup").cast("long")).cast("double")
                    / n
                    * 10000
                )
                / 10000
            ).alias("dup_rate"),
            (F.floor(F.sum("q_int").cast("double") / n) / 10000).alias(
                "avg_quality"
            ),
            (
                F.floor(F.sum("gopher_keep").cast("double") / n * 10000)
                / 10000
            ).alias("gopher_keep_rate"),
            (
                F.floor(F.sum("ensemble_keep").cast("double") / n * 10000)
                / 10000
            ).alias("ensemble_keep_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling" — public paper): a
# hashed-n-gram bag-of-features LM for a TARGET domain vs the raw
# corpus, per-doc importance = mean log p_target/p_source over the
# doc's features. The quality-family operator that selects "looks
# like the trusted domain" rather than "passes static gates".

DSIR_BUCKETS = 1024  # hashed-feature LM size (bounded, broadcastable)


def _dsir_bucket(token: Column) -> Column:
    """Portable feature hash: md5 first 8 hex digits -> uint32 ->
    bucket (the repo's engine-portable hash family, same as the LSH
    planes and minhash)."""
    return (
        F.conv(F.substring(F.md5(token), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS
    )


# Shared DuckDB CTE bank for the DSIR family (full-corpus face +
# O(new) incremental face): ONE SQL definition of the hashed-LM fit
# (the _REPETITION_FRACS_CTES discipline — two oracles cannot drift).
# Produces lm(b, lr_q), tots(ts, tt), docs(doc_id, lang, n_toks,
# avg_int), thr(t).
_DSIR_FIT_CTES = f"""tok0 AS (
          SELECT doc_id, lang,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
          FROM documents
        ),
        tok AS (
          SELECT doc_id, lang,
                 CAST(('0x' || substring(md5(token), 1, 8)) AS UBIGINT)
                   % {DSIR_BUCKETS} AS b
          FROM tok0
        ),
        src AS (SELECT b, count(*)::BIGINT AS c FROM tok GROUP BY b),
        tgt AS (
          SELECT b, count(*)::BIGINT AS c FROM tok WHERE lang = 'en' GROUP BY b
        ),
        tots AS (
          SELECT (SELECT sum(c) FROM src)::BIGINT AS ts,
                 (SELECT coalesce(sum(c), 0) FROM tgt)::BIGINT AS tt
        ),
        lm AS (
          SELECT s.b,
                 CAST(floor(
                   ln(((coalesce(t.c, 0) + 1)::DOUBLE / (tots.tt + {DSIR_BUCKETS}))
                      / ((s.c + 1)::DOUBLE / (tots.ts + {DSIR_BUCKETS})))
                   * 1000000) AS BIGINT) AS lr_q
          FROM src s LEFT JOIN tgt t USING (b), tots
        ),
        docs AS (
          SELECT doc_id, lang, count(*)::BIGINT AS n_toks,
                 CAST(floor(sum(lr_q)::DOUBLE / (count(*) * 100)) AS BIGINT)
                   AS avg_int
          FROM tok JOIN lm USING (b)
          GROUP BY doc_id, lang
        ),
        thr AS (SELECT CAST(floor(avg(avg_int)) AS BIGINT) AS t FROM docs)"""


def _dsir_fit(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The Spark twin of _DSIR_FIT_CTES: returns (lm, stats, docs)
    where lm is the 1024-row quantized log-ratio table, stats the
    1-row (ts, tt, t) fit summary, docs the per-doc scores of the
    fitted corpus. All floats ride exact rationals + BIGINT
    quantization (see the register doc for why)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    tok = d.select(
        "doc_id", "lang", F.explode(toks).alias("token")
    ).select("doc_id", "lang", _dsir_bucket(F.col("token")).alias("b"))
    src = tok.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    tgt = (
        tok.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    tots = src.agg(F.sum("c").alias("ts")).crossJoin(
        tgt.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("tt"))
    )
    # lm is bounded at DSIR_BUCKETS rows BY CONSTRUCTION (bucket ids
    # are mod-1024), so the unconditional broadcast is sound at any
    # corpus size — the gate policy covers builds that scale, not
    # fixed-domain aggregates
    lm = (
        src.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            F.floor(
                F.log(
                    (
                        (F.coalesce("c_t", F.lit(0)) + 1).cast("double")
                        / (F.col("tt") + DSIR_BUCKETS)
                    )
                    / (
                        (F.col("c") + 1).cast("double")
                        / (F.col("ts") + DSIR_BUCKETS)
                    )
                )
                * 1000000
            )
            .cast("long")
            .alias("lr_q"),
        )
    )
    docs = (
        tok.join(F.broadcast(lm), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.floor(F.sum("lr_q").cast("double") / (F.count(F.lit(1)) * 100))
            .cast("long")
            .alias("avg_int"),
        )
    )
    # resampling threshold = corpus mean importance (the deterministic
    # stand-in for DSIR's proportional sampling): avg over exact
    # per-doc BIGINTs — order-free, floor has no tie path
    thr = docs.agg(F.floor(F.avg("avg_int")).cast("long").alias("t"))
    stats = tots.crossJoin(thr)
    return lm, stats, docs


@register(
    "dsir_importance_weights",
    tags=("text", "quality", "corpus", "sampling"),
    doc="DSIR importance weights (Xie et al. 2023): hash every token "
    "into a 1024-bucket feature space, fit Laplace-smoothed unigram "
    "LMs for the TARGET domain (lang='en' here — in production the "
    "trusted corpus, e.g. Wikipedia) and the raw corpus, then score "
    "each doc by its mean log importance ratio; keep = docs above "
    "the corpus-mean importance (the deterministic stand-in for the "
    "paper's proportional resampling). Plan at 100 TB: two "
    "map-side-combinable aggregates over the token stream (both "
    "bounded at 1024 output rows), ONE broadcast of the 1024-row "
    "ratio table back over the stream, one per-doc aggregate — no "
    "corpus-sized build side anywhere, skew-immune (hot buckets are "
    "probe-side). Float policy: integer counts everywhere; ln only "
    "on exact rationals, then BIGINT-quantized per BUCKET (floor to "
    "1e-6) so the per-doc aggregation is an order-free INTEGER sum "
    "(round(avg(ln)) flipped a HALF_UP tie at sf0.1 — the exact "
    "doc_quality_scores failure mode); output floor-quantized to "
    "4dp (no tie path) and keep compares the quantized value.",
    oracle=f"""
        WITH {_DSIR_FIT_CTES}
        SELECT doc_id, lang, n_toks,
               avg_int / 10000.0 AS avg_log_ratio,
               CAST(avg_int > thr.t AS BIGINT) AS keep
        FROM docs, thr
        ORDER BY doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, stats, docs = _dsir_fit(spark, sf_dir)
    return (
        docs.crossJoin(F.broadcast(stats.select("t")))
        .select(
            "doc_id",
            "lang",
            "n_toks",
            (F.col("avg_int") / 10000.0).alias("avg_log_ratio"),
            (F.col("avg_int") > F.col("t")).cast("long").alias("keep"),
        )
        .orderBy("doc_id")
    )


def warm_dsir_lm(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The fitted DSIR model — the 1024-row quantized ratio table and
    the 1-row (ts, tt, t) summary — as one session artifact
    (``session.memo``): at 100 TB the hashed-LM fit is an offline
    artifact the selection job refreshes.
    Lifecycle: merge/compact/expire transfers from refresh_segment_index +
    refresh_band_index (dt-partitioned rows, no cross-row state), proven
    by their compaction-invariance oracles."""
    return memo(spark, ("dsir_lm", sf_dir), lambda: _dsir_fit(spark, sf_dir)[:2])


@register(
    "incremental_dsir_weights",
    tags=("text", "quality", "sampling", "incremental"),
    prepare=warm_dsir_lm,
    doc="Incremental face of dsir_importance_weights and the EIGHTH "
    "instance of the engine's incremental-index contract (minhash "
    "bands, embedding index, span index, k-means model, vocabulary, "
    "segment index, curation artifacts — now the hashed-LM "
    "importance model): an incoming batch (every-7th doc with "
    "drifted tokens appended, the usual synthesized-batch "
    "convention) is scored against the PERSISTED lm + threshold — "
    "O(new) per run, the fitted corpus is never re-tokenized. "
    "Feature buckets the fit never saw score at the smoothed "
    "unseen-bucket ratio ln((ts+B)/(tt+B)) — computed from the "
    "persisted totals on both engines, so drift cannot silently "
    "drop features. The 1024-row lm broadcasts; the batch streams "
    "past it map-only + one per-doc regroup.",
    oracle=f"""
        WITH {_DSIR_FIT_CTES},
        newtok0 AS (
          SELECT doc_id + 200000 AS new_id, lang,
                 unnest(string_split_regex(trim(lower(
                   text || ' zq9x vvqk unseen drift')), '\\s+')) AS token
          FROM documents WHERE doc_id % 7 = 0
        ),
        newtok AS (
          SELECT new_id, lang,
                 CAST(('0x' || substring(md5(token), 1, 8)) AS UBIGINT)
                   % {DSIR_BUCKETS} AS b
          FROM newtok0
        ),
        scored AS (
          SELECT n.new_id, n.lang,
                 coalesce(lm.lr_q, CAST(floor(
                   ln((tots.ts + {DSIR_BUCKETS})::DOUBLE
                      / (tots.tt + {DSIR_BUCKETS})) * 1000000) AS BIGINT))
                   AS lr_q
          FROM newtok n LEFT JOIN lm USING (b), tots
        ),
        newdocs AS (
          SELECT new_id, lang, count(*)::BIGINT AS n_toks,
                 CAST(floor(sum(lr_q)::DOUBLE / (count(*) * 100)) AS BIGINT)
                   AS avg_int
          FROM scored
          GROUP BY new_id, lang
        )
        SELECT new_id, lang, n_toks,
               avg_int / 10000.0 AS avg_log_ratio,
               CAST(avg_int > thr.t AS BIGINT) AS keep
        FROM newdocs, thr
        ORDER BY new_id
    """,
)
def incremental_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    lm, stats = warm_dsir_lm(spark, sf_dir)
    d = load(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("new_id"),
        "lang",
        F.concat("text", F.lit(" zq9x vvqk unseen drift")).alias("text"),
    )
    return dsir_score_batch(batch, lm, stats)


def dsir_score_batch(batch: DataFrame, lm: DataFrame, stats: DataFrame) -> DataFrame:
    """Score ONE batch of (new_id, lang, text) against a fitted DSIR
    model — the single plan builder behind the driver-checked
    incremental face AND the streaming filter-at-ingest twin
    (streaming/curation.py::stream_dsir_filter), so the two cannot
    diverge (the curate_batch / segment_dedup_batch discipline)."""
    tok = batch.select(
        "new_id",
        "lang",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
    ).select("new_id", "lang", _dsir_bucket(F.col("token")).alias("b"))
    unseen_q = (
        F.floor(
            F.log(
                (F.col("ts") + DSIR_BUCKETS).cast("double")
                / (F.col("tt") + DSIR_BUCKETS)
            )
            * 1000000
        )
        .cast("long")
        .alias("unseen_q")
    )
    scored = (
        tok.join(F.broadcast(lm), "b", "left")
        .crossJoin(F.broadcast(stats.select(unseen_q, "t")))
        .select(
            "new_id",
            "lang",
            F.coalesce("lr_q", "unseen_q").alias("lr_q"),
            "t",
        )
    )
    return (
        scored.groupBy("new_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.floor(F.sum("lr_q").cast("double") / (F.count(F.lit(1)) * 100))
            .cast("long")
            .alias("avg_int"),
            F.max("t").alias("t"),
        )
        .select(
            "new_id",
            "lang",
            "n_toks",
            (F.col("avg_int") / 10000.0).alias("avg_log_ratio"),
            (F.col("avg_int") > F.col("t")).cast("long").alias("keep"),
        )
        .orderBy("new_id")
    )


# ---------------------------------------------------------------------------
# Robust winnowing (Schleimer, Wilkerson, Aiken 2003, "Winnowing:
# Local Algorithms for Document Fingerprinting" — public paper): the
# real fingerprint-selection algorithm doc_fingerprints approximates
# with its whole-doc min/max ("winnowing-lite"). Guarantees every
# match of length >= K+W-1 words shares a fingerprint, at ~2/(W+1)
# selection density.

WINNOW_K = 4  # word k-gram width
WINNOW_W = 4  # winnowing window (consecutive k-gram hashes)

# Hash-once-per-token k-gram family (r15, VERDICT r14 ask #4 — the
# MinHash affine-family trick applied to winnowing): each token is
# md5'd ONCE into a 32-bit int, then every k-gram hash is a pure
# integer polynomial mix of its K token hashes — two independent
# 31-bit lanes ((acc*B + h) mod P per token, P < 2^31 so acc*B stays
# exact in signed 64-bit on BOTH engines) packed into one 62-bit
# value (lane1 * 2^31 + lane2; wider than the old 60-bit
# md5-per-gram family, so corpus-wide fingerprint collisions stay
# negligible). The old family md5'd every token K times inside the
# per-gram concat; this one replaces K·n_grams string md5s with
# n_toks short md5s + 2K integer ops per gram. Measured (docs/
# SCALE.md r15 probe table, the single source of truth — ADVICE r15
# #1): winnowing_fingerprints 18.6 → 1.7 s at 1×, 109.0 → 9.9 at
# 100×; winnowing_match_pairs 11.4 → 1.9 at 1×, 143.7 → 10.4 at 100×.
WINNOW_MIX = ((1000003, 2147483647), (1000033, 2147483629))  # (B, P) lanes
_WINNOW_PACK = 2147483648  # 2^31: lane packing multiplier


def _winnow_gram_hash(hs, j):
    """Spark: 62-bit k-gram hash from token-hash array ``hs`` at
    1-based position ``j`` (Column)."""
    lanes = []
    for bmul, p in WINNOW_MIX:
        acc = F.element_at(hs, j) % F.lit(p)
        for i in range(1, WINNOW_K):
            acc = (acc * F.lit(bmul) + F.element_at(hs, j + i)) % F.lit(p)
        lanes.append(acc)
    return lanes[0] * F.lit(_WINNOW_PACK) + lanes[1]


def _winnow_gram_hash_sql(hs: str = "hs", j: str = "j") -> str:
    """DuckDB: the IDENTICAL arithmetic, generated from the same
    constants/loop so the two engines cannot drift."""
    lanes = []
    for bmul, p in WINNOW_MIX:
        acc = f"({hs}[{j}] % {p})"
        for i in range(1, WINNOW_K):
            acc = f"(({acc} * {bmul} + {hs}[{j} + {i}]) % {p})"
        lanes.append(acc)
    return f"({lanes[0]} * {_WINNOW_PACK} + {lanes[1]})"


# Shared CTE chain producing sel(doc_id, pos, fp) — the winnowed
# fingerprint set both the per-doc datasheet and the match-pairs
# query read (one SQL definition, two oracles that cannot drift).
def _winnow_sel_ctes(src: str = "documents") -> str:
    """The winnowing selection CTE bank over source relation ``src``
    — parameterized (r16) so the match audit can run the IDENTICAL
    selection over its dup-injected corpus CTE (audit and audited
    cannot drift, the dedup_pair_audit lesson)."""
    return f"""toks AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS t
          FROM {src}
        ),
        th AS (
          SELECT doc_id, len(t) AS n_toks,
                 [CAST(CAST(('0x' || substring(md5(tok), 1, 8))
                    AS UBIGINT) AS BIGINT) for tok in t] AS hs
          FROM toks
        ),
        gram AS (
          SELECT doc_id, j AS p,
                 n_toks - {WINNOW_K} + 1 AS n_grams,
                 {_winnow_gram_hash_sql()} AS hv
          FROM th, UNNEST(range(1, n_toks - {WINNOW_K} + 2)) u(j)
          WHERE n_toks >= {WINNOW_K}
        ),
        led AS (
          SELECT doc_id, p, n_grams, hv,
                 lead(hv, 1) OVER w AS h1,
                 lead(hv, 2) OVER w AS h2,
                 lead(hv, 3) OVER w AS h3
          FROM gram
          WINDOW w AS (PARTITION BY doc_id ORDER BY p)
        ),
        win AS (
          SELECT doc_id,
                 least(hv, h1, h2, h3) AS fp,
                 p + CASE WHEN h3 = least(hv, h1, h2, h3) THEN 3
                          WHEN h2 = least(hv, h1, h2, h3) THEN 2
                          WHEN h1 = least(hv, h1, h2, h3) THEN 1
                          ELSE 0 END AS pos
          FROM led WHERE p <= n_grams - {WINNOW_W} + 1
        ),
        sel AS (SELECT DISTINCT doc_id, pos, fp FROM win)"""


_WINNOW_SEL_CTES = _winnow_sel_ctes()


@register(
    "winnowing_fingerprints",
    tags=("text", "fingerprint", "dedup"),
    doc="Winnowing fingerprints (Schleimer et al. 2003): hash every "
    "word-4-gram — r15: each TOKEN md5'd once into a 32-bit int, "
    "k-gram hash = two-lane 31-bit polynomial mix packed to 62 bits "
    "(WINNOW_MIX; the MinHash hash-once trick, VERDICT r14 ask #4 — "
    "replaces K string md5s per gram with 2K integer ops; measured "
    "18.6 -> 1.7 s at 1x, 109.0 -> 9.9 at 100x, docs/SCALE.md r15 "
    "probe table) — slide a "
    "W=4 window over the hash sequence, select each "
    "window's MINIMUM — deterministic rightmost-on-ties, the plain "
    "winnowing tie rule (the paper's 'robust' variant prefers the "
    "PREVIOUS window's selection on ties, falling back to rightmost; "
    "the match guarantee is identical, density differs slightly — "
    "ADVICE r14 #3), made explicit as a rightmost-first CASE over "
    "lead(1..3) columns so both engines resolve ties identically — "
    "and dedup the selected (pos, hash) pairs (overlapping windows "
    "mostly re-select the same fingerprint; that dedup IS the "
    "compression). Emits per-doc fingerprint count, window count, "
    "min/max fingerprint and an order-free integer checksum over the "
    "selected set, so the hash verifies the exact selection. Plan: "
    "one posexplode, per-doc-keyed lead window (no hot keys — "
    "partition key is doc_id), distinct + aggregate on the selected "
    "set. A first draft built windows with nested array lambdas; its "
    "DuckDB twin was O(n·W^2) list-slicing per doc (460 s at "
    "sf0.001) — the lead() formulation is the plan BOTH engines run "
    "fast. Docs shorter than K+W-1 words emit zero windows "
    "(documented edge, identical in both engines).",
    oracle=f"""
        WITH {_WINNOW_SEL_CTES},
        agg AS (
          SELECT doc_id, count(*)::BIGINT AS n_fingerprints,
                 min(fp) AS fp_min, max(fp) AS fp_max,
                 sum(fp % 1000000007)::BIGINT AS fp_checksum
          FROM sel GROUP BY doc_id
        )
        SELECT t.doc_id,
               greatest(len(t.t) - {WINNOW_K + WINNOW_W} + 2, 0)::BIGINT
                 AS n_windows,
               coalesce(a.n_fingerprints, 0) AS n_fingerprints,
               a.fp_min, a.fp_max,
               coalesce(a.fp_checksum, 0) AS fp_checksum
        FROM toks t LEFT JOIN agg a USING (doc_id)
        ORDER BY t.doc_id
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, sel = _winnow_selected(load(spark, sf_dir, "documents"))
    agg = sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        F.min("fp").alias("fp_min"),
        F.max("fp").alias("fp_max"),
        F.sum(F.col("fp") % 1000000007).cast("long").alias("fp_checksum"),
    )
    return (
        base.select(
            "doc_id",
            F.greatest(
                F.col("n_toks") - (WINNOW_K + WINNOW_W) + 2, F.lit(0)
            )
            .cast("long")
            .alias("n_windows"),
        )
        # shuffle_hash pin (r15 static-broadcast sweep): agg is a
        # PER-DOC aggregate — doc-count-scale, the ngram OOM class;
        # the static planner broadcast it on fixture-size stats
        .join(agg.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_fingerprints", F.lit(0)).alias("n_fingerprints"),
            "fp_min",
            "fp_max",
            F.coalesce("fp_checksum", F.lit(0)).alias("fp_checksum"),
        )
        .orderBy("doc_id")
    )


def _winnow_selected(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The Spark twin of _WINNOW_SEL_CTES: (base(doc_id, n_toks),
    sel(doc_id, pos, fp)) — the winnowed fingerprint set both faces
    read. The repartition is the _banded_signatures barrier: hash
    each token ONCE behind a shuffle, or CollapseProject re-inlines
    the md5 token-hash array into every element_at of every gram
    (the O(n·K) re-evaluation trap the old md5-per-gram family paid
    as its baseline cost)."""
    t = F.split(F.trim(F.lower("text")), r"\s+")
    hashed = d.select(
        "doc_id",
        F.transform(
            t,
            lambda tok: F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast(
                "long"
            ),
        ).alias("hs"),
    ).repartition(barrier_width(d), "doc_id")
    n = F.size("hs")
    grams = F.when(
        n >= WINNOW_K,
        F.transform(
            F.sequence(F.lit(1), n - WINNOW_K + 1),
            lambda j: _winnow_gram_hash(F.col("hs"), j),
        ),
    ).otherwise(F.array().cast("array<long>"))
    base = hashed.select("doc_id", n.cast("long").alias("n_toks"))
    n_grams = F.when(n >= WINNOW_K, n - WINNOW_K + 1).otherwise(F.lit(0))
    gram = hashed.select(
        "doc_id",
        n_grams.cast("long").alias("n_grams"),
        F.posexplode(grams).alias("p0", "hv"),
    ).select(
        "doc_id", "n_grams", (F.col("p0") + 1).alias("p"), "hv"
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    led = gram.select(
        "doc_id",
        "p",
        "n_grams",
        "hv",
        F.lead("hv", 1).over(w).alias("h1"),
        F.lead("hv", 2).over(w).alias("h2"),
        F.lead("hv", 3).over(w).alias("h3"),
    ).filter(F.col("p") <= F.col("n_grams") - WINNOW_W + 1)
    fp = F.least("hv", "h1", "h2", "h3")
    pos = F.col("p") + (
        F.when(F.col("h3") == fp, 3)
        .when(F.col("h2") == fp, 2)
        .when(F.col("h1") == fp, 1)
        .otherwise(0)
    )
    sel = led.select(
        "doc_id", pos.cast("long").alias("pos"), fp.alias("fp")
    ).distinct()
    return base, sel


WINNOW_MAX_DOC_FREQ = 10  # MOSS-style common-fingerprint drop
WINNOW_MIN_SHARED = 2  # pair noise floor (one shared fp can be chance)


@register(
    "winnowing_match_pairs",
    tags=("text", "fingerprint", "dedup"),
    doc="Winnowing-based document matching (the MOSS use case of "
    "Schleimer et al. 2003): documents sharing selected fingerprints "
    "are near-duplicate / containment candidates. Fingerprints "
    "appearing in more than 10 documents are dropped FIRST — the "
    "paper's standard boilerplate guard, and the scale lever: the "
    "pair join is quadratic in fingerprint bucket size, so capping "
    "doc-frequency bounds every bucket at 10 docs = <=45 pairs per "
    "fingerprint regardless of corpus size (the banded-LSH shape: "
    "join within bounded buckets, never all-pairs). Pairs sharing "
    "fewer than 2 distinct fingerprints are dropped as chance "
    "collisions. Plan: one shuffle on fp for the doc-frequency "
    "guard + bucket self-join, one keyed pair aggregate.",
    oracle=f"""
        WITH {_WINNOW_SEL_CTES},
        fps AS (SELECT DISTINCT doc_id, fp FROM sel),
        rare AS (
          SELECT fp FROM fps GROUP BY fp
          HAVING count(*) BETWEEN 2 AND {WINNOW_MAX_DOC_FREQ}
        ),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 count(*)::BIGINT AS n_shared_fps
          FROM fps a
          JOIN rare r ON a.fp = r.fp
          JOIN fps b ON b.fp = a.fp AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b, n_shared_fps
        FROM pairs WHERE n_shared_fps >= {WINNOW_MIN_SHARED}
        ORDER BY doc_a, doc_b
    """,
)
def winnowing_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _winnow_match_frame(load(spark, sf_dir, "documents"))


def _winnow_match_frame(d: DataFrame) -> DataFrame:
    """winnowing_match_pairs' plan over any (doc_id, text) corpus —
    factored out (r16) so winnowing_match_audit scores the IDENTICAL
    match face over its dup-injected corpus."""
    _, sel = _winnow_selected(d)
    fps = sel.select("doc_id", "fp").distinct()
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") >= 2) & (F.col("df") <= WINNOW_MAX_DOC_FREQ)
        )
        .select("fp")
    )
    # shuffle_hash pins (r15 static-broadcast sweep): rare and fps
    # are both fingerprint-table-scale (grow with the corpus); the
    # static planner broadcast BOTH on fixture-size stats — fine at
    # sf0.1, an OOM at 100 TB. The df-guard bounds pairs-per-bucket,
    # not the table sizes.
    #
    # r16 (the audit-OOM lesson applied to the audited face): BOTH
    # self-join sides pre-filter through the rare guard once (occ) —
    # semantically identical, since a fingerprint outside `rare` can
    # never produce a pair, but the pair join's shuffle_hash BUILD
    # side shrinks from the full corpus fingerprint table to
    # rare-fp occurrences (df in [2, 10] each, typically a small
    # fraction of fps). Values and oracle unchanged; Spark reuses
    # occ's exchange for both aliases.
    occ = fps.join(rare.hint("shuffle_hash"), "fp")
    a = occ.select("fp", F.col("doc_id").alias("doc_a"))
    b = occ.select("fp", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b.hint("shuffle_hash"), "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


# Ground-truth knobs for winnowing_match_audit. MIN_GRAMS = WINNOW_W:
# the minimal guaranteed-detectable passage (K+W-1 = 7 words) yields
# exactly W distinct k-grams, so the ground-truth bar equals the
# guarantee's floor — and, structurally, every ground-truth doc has
# >= 1 winnowing window (a doc must carry >= W grams to qualify),
# which pins the zero-density edge OUT of the recall denominator.
WINNOW_AUDIT_MIN_GRAMS = WINNOW_W
# Grams shared by more than this many docs are corpus boilerplate,
# not evidence of a pair-specific shared passage — and an unguarded
# gram bucket makes the ground truth itself quadratic. 5x looser
# than the audited face's WINNOW_MAX_DOC_FREQ, so the guard's own
# recall cost (fps dropped because a FINGERPRINT is common) is
# measured rather than mirrored.
WINNOW_AUDIT_GT_MAX_DF = 50


@register(
    "winnowing_match_audit",
    tags=("text", "fingerprint", "dedup", "observability"),
    doc="Winnowing match quality audit (VERDICT r15 ask #6 — the "
    "dedup_pair_audit / ann_recall_audit treatment for the winnowing "
    "tier): winnowing_match_pairs' pair set over a dup-injected "
    "corpus (every 9th doc re-appended with a 3-word tail, so each "
    "injected doc shares its full base text as a long passage) "
    "scored against EXACT word-4-gram-overlap ground truth — pairs "
    "sharing >= W=4 distinct rare grams (= one minimal guaranteed "
    "passage of K+W-1=7 words; grams in > 50 docs are boilerplate, "
    "see WINNOW_AUDIT_GT_MAX_DF). One verdict row: n_exact / "
    "n_winnow / n_hits / precision / recall + n_zero_window_docs "
    "(docs under 7 tokens emit no windows, hence no fingerprints — "
    "the 0-density edge, pinned here as an exact count; such docs "
    "structurally cannot enter the ground truth, so recall's "
    "denominator is collision- and guard-loss only). Ground truth "
    "compares gram STRINGS, not hashes — winnowing's 62-bit "
    "fingerprint collisions surface as precision loss, selection "
    "misses (shared grams that are never window minima) and the "
    "df<=10/min-shared>=2 guards as recall loss. Spark face reuses "
    "the REGISTERED match plan verbatim (_winnow_match_frame); the "
    "oracle embeds the registered CTE bank over the injected corpus "
    "(audit and audited cannot drift). Scale: both pair sets are "
    "df-guard-bounded buckets (never all-pairs); the ground-truth "
    "side pre-filters both self-join inputs through the rare guard "
    "and rides merge-hinted (spill-safe) string joins — a "
    "shuffle_hash build of the raw gram stream OOMed the first 100x "
    "probe; the audit reduces to one row behind stage barriers "
    "(the dedup_pair_audit concurrency lesson).",
    oracle=f"""
        WITH icorp AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id,
                 text || ' winnow audit tail' AS text
          FROM documents WHERE doc_id % 9 = 0
        ),
        {_winnow_sel_ctes("icorp")},
        wm_fps AS (SELECT DISTINCT doc_id, fp FROM sel),
        wm_rare AS (
          SELECT fp FROM wm_fps GROUP BY fp
          HAVING count(*) BETWEEN 2 AND {WINNOW_MAX_DOC_FREQ}
        ),
        wm AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n
            FROM wm_fps a
            JOIN wm_rare r ON a.fp = r.fp
            JOIN wm_fps b ON b.fp = a.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
          ) t WHERE n >= {WINNOW_MIN_SHARED}
        ),
        gg AS (
          SELECT DISTINCT doc_id,
                 array_to_string(t[i:i+{WINNOW_K - 1}], ' ') AS g
          FROM toks, UNNEST(range(1, len(t) - {WINNOW_K} + 2)) u(i)
          WHERE len(t) >= {WINNOW_K}
        ),
        grare AS (
          SELECT g FROM gg GROUP BY g
          HAVING count(*) BETWEEN 2 AND {WINNOW_AUDIT_GT_MAX_DF}
        ),
        gt AS (
          SELECT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS n
            FROM gg a
            JOIN grare r ON a.g = r.g
            JOIN gg b ON b.g = a.g AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
          ) t WHERE n >= {WINNOW_AUDIT_MIN_GRAMS}
        ),
        hit AS (
          SELECT count(*)::BIGINT AS n_hits
          FROM wm JOIN gt USING (doc_a, doc_b)
        ),
        zw AS (
          SELECT count(*)::BIGINT AS n_zero_window_docs
          FROM toks WHERE len(t) < {WINNOW_K + WINNOW_W - 1}
        )
        SELECT (SELECT count(*) FROM gt)::BIGINT AS n_exact,
               (SELECT count(*) FROM wm)::BIGINT AS n_winnow,
               hit.n_hits,
               floor(hit.n_hits::DOUBLE
                 / nullif((SELECT count(*) FROM wm), 0) * 10000) / 10000
                 AS precision_at_t,
               floor(hit.n_hits::DOUBLE
                 / nullif((SELECT count(*) FROM gt), 0) * 10000) / 10000
                 AS recall_at_t,
               zw.n_zero_window_docs
        FROM hit, zw
    """,
)
def winnowing_match_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.operators.dedup import overlap_counts, ratio4

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    injected = d.unionByName(
        d.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat("text", F.lit(" winnow audit tail")).alias("text"),
        )
    )
    # audited side: the REGISTERED match face, verbatim
    wm = stage(
        _winnow_match_frame(injected).select("doc_a", "doc_b").withColumn("in_wm", F.lit(1)),
        "winnow_audit.winnow",
    )
    # ground truth: exact rare-gram overlap on gram STRINGS
    t = F.split(F.trim(F.lower("text")), r"\s+")
    toks = injected.select("doc_id", t.alias("t"))
    gram = F.concat_ws(
        " ", *[F.element_at("t", F.col("p") + i) for i in range(WINNOW_K)]
    )
    gg = (
        toks.filter(F.size("t") >= WINNOW_K)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(1), F.size("t") - (WINNOW_K - 1))
            ).alias("p"),
        )
        .select("doc_id", gram.alias("g"))
        .distinct()
    )
    grare = (
        gg.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") >= 2) & (F.col("df") <= WINNOW_AUDIT_GT_MAX_DF)
        )
        .select("g")
    )
    # Both pair-join sides are pre-filtered through the rare guard
    # ONCE (occ) — semantically identical (a non-rare gram can never
    # survive the join) but it shrinks the join inputs from the full
    # corpus gram stream to rare-gram occurrences (df <= 50 each).
    # The first 100x probe of this audit OOMed here with the
    # unfiltered stream as a shuffle_hash build: raw gram STRINGS
    # are ~7x wider than the winnowed long fingerprints, so the
    # per-partition hash build blew the task memory pool. merge
    # hints (sort-merge, spill-safe) instead: these are string-keyed
    # corpus-growing tables — never broadcast-built, and for an
    # observability query graceful spill beats a pinned hash build.
    occ = gg.join(grare.hint("merge"), "g")
    a = occ.select("g", F.col("doc_id").alias("doc_a"))
    b = occ.select("g", F.col("doc_id").alias("doc_b"))
    gt = stage(
        a.join(b.hint("merge"), "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= WINNOW_AUDIT_MIN_GRAMS)
        .select("doc_a", "doc_b")
        .withColumn("in_gt", F.lit(1)),
        "winnow_audit.exact",
    )
    stats = overlap_counts(
        wm, gt, ["doc_a", "doc_b"], ("in_wm", "in_gt"), "n_hits",
        n_exact="in_gt", n_winnow="in_wm",
    )
    zw = injected.agg(
        F.coalesce(
            F.sum((F.size(t) < WINNOW_K + WINNOW_W - 1).cast("long")),
            F.lit(0),
        )
        .cast("long")
        .alias("n_zero_window_docs")
    )
    return stats.crossJoin(F.broadcast(zw)).select(
        "n_exact",
        "n_winnow",
        "n_hits",
        ratio4("n_hits", "n_winnow").alias("precision_at_t"),
        ratio4("n_hits", "n_exact").alias("recall_at_t"),
        "n_zero_window_docs",
    )
