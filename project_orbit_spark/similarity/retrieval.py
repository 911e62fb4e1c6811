"""RAG retrieval semantics — SURVEY.md §2 F2/W1/E3: company-filtered
top-k with fall-back-to-unfiltered, and query enhancement.

The reference over-fetches top_k×2, filters by company substring,
and falls back to the unfiltered hits when the filter empties the
result (src/rag_pipeline.py:45-75). The engine pushes the filter
below the rank (strictly better — SURVEY §4) and expresses the
fallback as a two-branch union gated on the filtered match count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_orbit_spark.registry import register
from project_orbit_spark.session import memo
from project_orbit_spark.similarity.cosine import as_double, cosine

K = 5


@register(
    "filtered_topk_with_fallback",
    tags=("similarity", "retrieval"),
    doc="F2 company-filter + fallback retrieval (ref src/rag_pipeline"
    ".py:51-75): top-k within the query's own cluster (the 'company "
    "filter'), but queries whose cluster yields < k candidates under "
    "a selectivity predicate fall back to the unfiltered corpus — "
    "branch chosen per query, tagged in the output.",
    oracle="""
        WITH emb AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        ),
        q AS (SELECT vec_id AS qid, label AS qlabel, emb AS qe FROM emb WHERE vec_id < 8),
        filtered AS (
          SELECT q.qid, e.vec_id AS cid,
                 list_cosine_similarity(q.qe, e.emb) AS score
          FROM q JOIN emb e
            ON e.label = q.qlabel AND e.vec_id % 7 = 0 AND e.vec_id != q.qid
        ),
        counts AS (
          SELECT q.qid, coalesce(f.n, 0) AS n_filtered
          FROM q LEFT JOIN (SELECT qid, count(*) AS n FROM filtered GROUP BY qid) f
            USING (qid)
        ),
        unfiltered AS (
          SELECT q.qid, e.vec_id AS cid,
                 list_cosine_similarity(q.qe, e.emb) AS score
          FROM q JOIN emb e ON e.vec_id != q.qid
        ),
        chosen AS (
          SELECT f.qid, f.cid, f.score, 'filtered' AS branch
          FROM filtered f JOIN counts c USING (qid) WHERE c.n_filtered >= 5
          UNION ALL
          SELECT u.qid, u.cid, u.score, 'fallback' AS branch
          FROM unfiltered u JOIN counts c USING (qid) WHERE c.n_filtered < 5
        )
        SELECT qid, cid, round(score, 6) AS score, branch, rank
        FROM (
          SELECT qid, cid, score, branch,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rank
          FROM chosen
        ) t
        WHERE rank <= 5
        ORDER BY qid, rank
    """,
)
def filtered_topk_with_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.catalog import load

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("emb")
    )
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel"), F.col("emb").alias("qe")
    )
    corpus = e.select(F.col("vec_id").alias("cid"), F.col("label").alias("clabel"), F.col("emb").alias("ce"))
    score = cosine(F.col("qe"), F.col("ce"))
    filtered = (
        F.broadcast(q)
        .join(
            corpus,
            (F.col("clabel") == F.col("qlabel"))
            & (F.col("cid") % 7 == 0)
            & (F.col("cid") != F.col("qid")),
        )
        .select("qid", "cid", score.alias("score"))
    )
    counts = q.join(
        filtered.groupBy("qid").agg(F.count(F.lit(1)).alias("n_filtered")), "qid", "left"
    ).select("qid", F.coalesce("n_filtered", F.lit(0)).alias("n_filtered"))
    unfiltered = (
        F.broadcast(q)
        .join(corpus, F.col("cid") != F.col("qid"))
        .select("qid", "cid", score.alias("score"))
    )
    chosen = (
        filtered.join(counts.filter(F.col("n_filtered") >= K), "qid", "left_semi")
        .withColumn("branch", F.lit("filtered"))
        .unionByName(
            unfiltered.join(
                counts.filter(F.col("n_filtered") < K), "qid", "left_semi"
            ).withColumn("branch", F.lit("fallback"))
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("cid"))
    return (
        chosen.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= K)
        .select("qid", "cid", F.round("score", 6).alias("score"), "branch", "rank")
        .orderBy("qid", "rank")
    )


@register(
    "query_enhancement_concat",
    tags=("retrieval", "text"),
    doc="E3 query enhancement (ref src/rag_search.py:42, src/agents/"
    "tools.py:219): prepend company context to the query text before "
    "embedding; emits the enhanced text + its stub embedding head "
    "(deterministic md5-byte provider, same as E1).",
    oracle="""
        SELECT c_custkey,
               lower(regexp_replace(c_name, '[^a-zA-Z0-9]', '', 'g'))
                 || ' funding history and latest round' AS enhanced_query,
               round(CAST(('0x' || substring(md5(
                 lower(regexp_replace(c_name, '[^a-zA-Z0-9]', '', 'g'))
                 || ' funding history and latest round'), 1, 2)) AS UBIGINT) / 256.0, 6)
                 AS d0
        FROM customer
        WHERE c_custkey % 100 = 0
        ORDER BY c_custkey
    """,
)
def query_enhancement_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.catalog import load
    from project_orbit_spark.functions.inference import embed_stage

    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") % 100 == 0)
    enhanced = c.select(
        F.col("c_custkey"),
        F.concat(
            F.lower(F.regexp_replace("c_name", "[^a-zA-Z0-9]", "")),
            F.lit(" funding history and latest round"),
        ).alias("enhanced_query"),
    )
    emb = embed_stage(enhanced, text_col="enhanced_query", id_col="c_custkey")
    return (
        enhanced.join(emb.select(F.col("c_custkey"), F.col("embedding")), "c_custkey")
        .select(
            "c_custkey",
            "enhanced_query",
            F.round(F.element_at("embedding", 1), 6).alias("d0"),
        )
        .orderBy("c_custkey")
    )


_DUCK_EMBED4_RETR = (
    "[CAST(('0x' || substring(md5({t}), 1, 2)) AS UBIGINT) / 256.0, "
    "CAST(('0x' || substring(md5({t}), 3, 2)) AS UBIGINT) / 256.0, "
    "CAST(('0x' || substring(md5({t}), 5, 2)) AS UBIGINT) / 256.0, "
    "CAST(('0x' || substring(md5({t}), 7, 2)) AS UBIGINT) / 256.0]"
)


def _embed4_expr(col):
    """JVM-expression face of the 4-dim md5-byte stub embedding
    (inference.py hash_embedding_provider; SQL face above)."""
    return F.array(
        *[
            F.conv(F.substring(F.md5(col), 1 + 2 * i, 2), 16, 10).cast("double") / 256.0
            for i in range(4)
        ]
    )


@register(
    "context_snippets_format",
    tags=("retrieval", "text", "report"),
    doc="Context-snippet formatting (ref src/rag_search.py:75-103 "
    "format_context_snippets over rag_search_company results): per "
    "company, rank its documents by stub-embedding cosine against the "
    "E3-enhanced query, keep the top 3, and render each as '[Snippet i "
    "| Score: x.xxx | Source: company/doc]' + the text truncated at "
    "500 chars with an ellipsis, joined by a '---' separator line. The "
    "3-decimal score is built from an integer milli-score (identical "
    "digit-by-digit in both engines — no float-format dependence). "
    "Scale shape: embeddings are pure expressions over the scan, the "
    "only shuffle is the per-company window; k is constant so the "
    "collect_list state is bounded.",
    oracle=f"""
        WITH scored AS (
          SELECT source, doc_id, text,
                 list_cosine_similarity(
                   {_DUCK_EMBED4_RETR.format(t="text")},
                   {_DUCK_EMBED4_RETR.format(t="source || ' funding rounds investors'")}
                 ) AS score
          FROM documents
        ),
        ranked AS (
          SELECT *,
                 row_number() OVER (
                   PARTITION BY source ORDER BY score DESC, doc_id) AS rank
          FROM scored
        ),
        fmt AS (
          SELECT source, rank,
                 '[Snippet ' || CAST(rank AS VARCHAR)
                 || ' | Score: '
                 || CAST(CAST(round(score * 1000) AS BIGINT) // 1000 AS VARCHAR)
                 || '.'
                 || lpad(CAST(CAST(round(score * 1000) AS BIGINT) % 1000 AS VARCHAR), 3, '0')
                 || ' | Source: ' || source || '/' || CAST(doc_id AS VARCHAR) || ']'
                 || chr(10)
                 || CASE WHEN length(text) > 500
                         THEN substring(text, 1, 500) || '...'
                         ELSE text END AS snippet
          FROM ranked WHERE rank <= 3
        )
        SELECT source AS company,
               CAST(count(*) AS BIGINT) AS n_snippets,
               string_agg(snippet, chr(10) || '---' || chr(10) ORDER BY rank)
                 AS context
        FROM fmt
        GROUP BY source
        ORDER BY company
    """,
)
def context_snippets_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from project_orbit_spark.catalog import load
    from project_orbit_spark.similarity.cosine import cosine

    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        "doc_id",
        "text",
        cosine(
            _embed4_expr(F.col("text")),
            _embed4_expr(F.concat(F.col("source"), F.lit(" funding rounds investors"))),
        ).alias("score"),
    )
    # the rank <= 3 filter plans a partial WindowGroupLimit below the
    # source exchange: each map partition ships <= 3 rows per company
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)
    millis = F.round(F.col("score") * 1000).cast("long")
    snippet = F.concat(
        F.lit("[Snippet "), F.col("rank").cast("string"),
        F.lit(" | Score: "),
        F.expr("cast(cast(round(score * 1000) as bigint) div 1000 as string)"),
        F.lit("."),
        F.lpad((millis % 1000).cast("string"), 3, "0"),
        F.lit(" | Source: "), F.col("source"), F.lit("/"),
        F.col("doc_id").cast("string"), F.lit("]"),
        F.lit("\n"),
        F.when(
            F.length("text") > 500, F.concat(F.substring("text", 1, 500), F.lit("..."))
        ).otherwise(F.col("text")),
    )
    return (
        ranked.select("source", "rank", snippet.alias("snippet"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_snippets"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "snippet"))),
                    lambda s: s["snippet"],
                ),
                "\n---\n",
            ).alias("context"),
        )
        .select(F.col("source").alias("company"), "n_snippets", "context")
        .orderBy("company")
    )


# ---------------------------------------------------------------------------
# Lexical retrieval — BM25 scored off a precomputed impact index.

BM25_K1 = 1.2
BM25_B = 0.75
_BM25_TERMS = ["vector", "stream", "merge", "window", "filter"]


def _bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query-independent BM25 impact index (Anh & Moffat, SIGIR
    2006), a session artifact (``session.memo``): rows ``(doc_id, imp)`` where
    ``imp[t]`` is term t's BM25 contribution to the document, with the
    +1-inside-ln IDF so it stays positive for terms in over half the
    corpus. Impacts depend only on the corpus, so a request adds up
    stored numbers (``_bm25_scored_cached``) and plans no exchange.

    Footprint: O(postings), one map entry per distinct (doc, term). At
    100 TB the same rows are the index artifact written at ingest.

    ``df`` is a window and ``n_docs``/``avgdl`` are driver literals: a
    BroadcastHashJoin inside a persisted plan keeps its hashed
    relation's on-heap page (one ``spark.buffer.pageSize`` page) live
    for as long as the cache lives.
    """
    from project_orbit_spark.catalog import load


    def build() -> DataFrame:
        t = F.split(F.trim(F.lower("text")), r"\s+")
        docs = load(spark, sf_dir, "documents")
        toks = docs.select("doc_id", F.size(t).alias("dl"), t.alias("t"))
        n_docs, avgdl = toks.agg(F.count(F.lit(1)), F.avg("dl")).first()
        tf = (
            toks.select("doc_id", "dl", F.explode("t").alias("term"))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        idf = F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
        denom = F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
        imp = idf * F.col("tf") * (BM25_K1 + 1) / denom
        return (
            tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
            .select("doc_id", F.struct("term", imp.alias("imp")).alias("e"))
            .groupBy("doc_id")
            .agg(F.map_from_entries(F.collect_list("e")).alias("imp"))
        )

    return memo(spark, ("bm25_index", sf_dir), build)


def _bm25_scored_cached(spark: SparkSession, sf_dir: str, terms: list[str]) -> DataFrame:
    """``(doc_id, bm25)`` for every document holding a query term,
    scored map-only off the impact index: the sum of the stored impacts
    of the query terms present, rounded to 4 places. Shared by the BM25,
    hybrid and rerank queries. Complements embedding retrieval
    (cosine_topk_exact / ann_ivf_topk): the reference retrieves by
    embedding only (src/rag_pipeline.py:45-75), but a production RAG
    stack pairs it with lexical BM25 for hybrid recall."""
    hits = F.filter(F.array(*[F.col("imp")[t] for t in terms]), lambda x: x.isNotNull())
    bm25 = F.round(F.aggregate("hits", F.lit(0.0), lambda acc, x: acc + x), 4)
    return (
        _bm25_index(spark, sf_dir)
        .select("doc_id", hits.alias("hits"))
        .filter(F.size("hits") > 0)
        .select("doc_id", bm25.alias("bm25"))
    )


# Shared oracle CTE ending in `scored(doc_id, bm25)`; the BM25 query
# selects from it directly, the hybrid-RRF query layers rank fusion on
# top of the same scoring definition.
_BM25_SCORED_CTE = f"""toks AS (
          SELECT doc_id, len(t) AS dl, unnest(t) AS term
          FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
                FROM documents)
        ),
        tf AS (
          SELECT doc_id, dl, term, count(*) AS tf
          FROM toks
          WHERE term IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
          GROUP BY doc_id, dl, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        stats AS (
          SELECT count(*) AS n_docs,
                 avg(len(string_split_regex(trim(lower(text)), '\\s+'))) AS avgdl
          FROM documents
        ),
        scored AS (
          SELECT t.doc_id,
                 round(sum(
                   ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                   * t.tf * ({BM25_K1} + 1)
                   / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * t.dl / s.avgdl))
                 ), 4) AS bm25
          FROM tf t JOIN dfreq d USING (term) CROSS JOIN stats s
          GROUP BY t.doc_id
        )"""


@register(
    "bm25_keyword_topk",
    tags=("retrieval", "text"),
    doc="BM25 lexical top-20 over documents for a fixed 5-term query "
    "(k1=1.2, b=0.75, ln((N-df+0.5)/(df+0.5)+1) IDF), scored off the "
    "session's precomputed impact index: a request sums the stored "
    "per-term impacts map-only, then a TakeOrdered top-k.",
    oracle=f"""
        WITH {_BM25_SCORED_CTE}
        SELECT doc_id, bm25 FROM scored
        ORDER BY bm25 DESC, doc_id
        LIMIT 20
    """,
)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bm25_scored_cached(spark, sf_dir, _BM25_TERMS)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval — reciprocal-rank fusion of lexical + embedding lists.

RRF_K = 60
_HYBRID_DEPTH = 50


@register(
    "hybrid_rrf_topk",
    bench=True,
    tags=("retrieval", "similarity", "text"),
    doc="Hybrid retrieval: BM25 top-50 and cosine top-50 (query = "
    "vec_id 0's embedding; fixture aligns vec_id 1:1 with doc_id) "
    "fused by reciprocal-rank fusion (k=60, Cormack/Clarke/Buettcher "
    "SIGIR'09), top-20 by fused score. Each candidate list is a "
    "distributed TakeOrdered (BM25 over the cached impact index); "
    "ranks are assigned on the 50-row "
    "results (bounded by construction), so no global window ever "
    "sees the corpus. Ranks sort on round(score,6)/round(bm25,4) so "
    "both engines rank identical values.",
    oracle=f"""
        WITH {_BM25_SCORED_CTE},
        bm_top AS (
          SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
          FROM scored
          ORDER BY bm25 DESC, doc_id
          LIMIT {_HYBRID_DEPTH}
        ),
        emb AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        q AS (SELECT emb AS qe FROM emb WHERE vec_id = 0),
        cos_scored AS (
          SELECT e.vec_id AS doc_id,
                 round(list_cosine_similarity(q.qe, e.emb), 6) AS score
          FROM emb e CROSS JOIN q
        ),
        cos_top AS (
          SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
          FROM cos_scored
          ORDER BY score DESC, doc_id
          LIMIT {_HYBRID_DEPTH}
        ),
        fused AS (
          SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
                 round(COALESCE(1.0 / ({RRF_K} + b.r), 0)
                       + COALESCE(1.0 / ({RRF_K} + c.r), 0), 6) AS rrf_score,
                 (CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END) AS n_lists
          FROM bm_top b FULL OUTER JOIN cos_top c ON b.doc_id = c.doc_id
        )
        SELECT doc_id, rrf_score, n_lists FROM fused
        ORDER BY rrf_score DESC, doc_id
        LIMIT 20
    """,
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.catalog import load

    bm_top = (
        _bm25_scored_cached(spark, sf_dir, _BM25_TERMS)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_HYBRID_DEPTH)
    )
    w_bm = Window.orderBy(F.desc("bm25"), "doc_id")
    bm_r = bm_top.select("doc_id", F.row_number().over(w_bm).alias("r_bm"))

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    cos_top = (
        e.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("emb"), F.col("qe")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(_HYBRID_DEPTH)
    )
    w_cos = Window.orderBy(F.desc("score"), "doc_id")
    cos_r = cos_top.select("doc_id", F.row_number().over(w_cos).alias("r_cos"))

    fused = (
        bm_r.join(cos_r, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("r_bm")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("r_cos")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
            (
                F.col("r_bm").isNotNull().cast("int")
                + F.col("r_cos").isNotNull().cast("int")
            ).alias("n_lists"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# Rerank stage — the second stage of a retrieve -> rerank stack.

_RERANK_QUERY = " ".join(_BM25_TERMS)
_RERANK_DEPTH = 50


@register(
    "rerank_crossencoder_topk",
    tags=("retrieval", "text"),
    doc="Cross-encoder rerank stage over the BM25 candidate list "
    "(the standard two-stage retrieval stack the reference's "
    "single-stage vector search lacks, ref src/rag_pipeline.py:45-75): "
    "first-stage BM25 top-50 from the shared impact index, then a "
    "pairwise (query, doc-text) scorer over just those 50 candidates, "
    "final top-10 by rerank score. The scorer is the deterministic "
    "md5-byte provider face (same duality as E1/E5: a real "
    "cross-encoder drops into the same pairwise signature); candidate "
    "texts come from a broadcast point-lookup join — the expensive "
    "model only ever sees k docs, never the corpus.",
    oracle=f"""
        WITH {_BM25_SCORED_CTE},
        cand AS (
          SELECT doc_id, bm25 FROM scored
          ORDER BY bm25 DESC, doc_id
          LIMIT {_RERANK_DEPTH}
        ),
        ce AS (
          SELECT c.doc_id, c.bm25,
                 round(CAST(('0x' || substring(md5(
                   '{_RERANK_QUERY}' || substring(d.text, 1, 64)), 1, 4))
                   AS UBIGINT) / 65536.0, 6) AS ce_score
          FROM cand c JOIN documents d USING (doc_id)
        )
        SELECT doc_id, bm25, ce_score, rank
        FROM (
          SELECT doc_id, bm25, ce_score,
                 CAST(row_number() OVER (ORDER BY ce_score DESC, doc_id)
                   AS BIGINT) AS rank
          FROM ce
        ) t
        WHERE rank <= 10
        ORDER BY rank
    """,
)
def rerank_crossencoder_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.catalog import load

    cand = (
        _bm25_scored_cached(spark, sf_dir, _BM25_TERMS)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RERANK_DEPTH)
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # 50-row candidate list broadcast against the corpus scan: the
    # text fetch is a point lookup, the corpus never shuffles
    ce_score = F.round(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_RERANK_QUERY), F.substring("text", 1, 64))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        / 65536.0,
        6,
    )
    scored = (
        F.broadcast(cand).join(docs, "doc_id").select("doc_id", "bm25", ce_score.alias("ce_score"))
    )
    w = Window.orderBy(F.desc("ce_score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .orderBy("rank")
    )
