"""End-to-end pipeline compositions — SURVEY.md §3 re-expressed as
single declarative plans.

The reference's batch-ingest chain (§3.1: pages → chunk → embed →
extract → payload) and interactive RAG query (§3.2: embed query →
top-k → company filter → format) each become ONE DataFrame plan here:
bronze corpus → Arrow-batched stub embedding → cosine retrieval with
provenance, and silver extractions joined into a gold profile row.
Catalyst sees the whole pipeline, so pruning/pushdown cross stage
boundaries the reference crossed with JSON files on disk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_orbit_spark.catalog import load
from project_orbit_spark.operators.dedup import _MINHASH_PAIRS_BODY
from project_orbit_spark.registry import register

# md5-byte stub embedding reproduced in SQL (dims 1-4 of inference.py's
# hash_embedding_provider)
_DUCK_EMBED4 = (
    "[CAST(('0x' || substring(md5({t}), 1, 2)) AS UBIGINT) / 256.0, "
    "CAST(('0x' || substring(md5({t}), 3, 2)) AS UBIGINT) / 256.0, "
    "CAST(('0x' || substring(md5({t}), 5, 2)) AS UBIGINT) / 256.0, "
    "CAST(('0x' || substring(md5({t}), 7, 2)) AS UBIGINT) / 256.0]"
)


@register(
    "rag_index_and_search",
    bench=True,
    tags=("pipeline", "similarity", "pandas_udf"),
    doc="§3.2 RAG pipeline as one plan: documents → 200-char chunks "
    "(C1) → Arrow-batched stub embeddings (E1, mapInPandas) → cosine "
    "against an enhanced query vector (E3) → top-10 with chunk "
    "provenance (W1+J4). The oracle reproduces the md5-byte embedding "
    "and the sequential-double cosine in SQL.",
    oracle=f"""
        WITH chunks AS (
          SELECT doc_id, i - 1 AS chunk_idx,
                 substring(text, (i - 1) * 200 + 1, 200) AS chunk_text
          FROM documents,
               UNNEST(range(1, greatest(CAST(ceil(length(text) / 200.0) AS BIGINT), 1) + 1))
                 AS t(i)
          WHERE doc_id < 200
        ),
        embedded AS (
          SELECT doc_id, chunk_idx,
                 {_DUCK_EMBED4.format(t="chunk_text")} AS emb
          FROM chunks
        ),
        qv AS (SELECT {_DUCK_EMBED4.format(t="'corpus spark stream query'")} AS qe)
        SELECT doc_id, chunk_idx, round(score, 6) AS score, rank
        FROM (
          SELECT e.doc_id, e.chunk_idx,
                 list_cosine_similarity(q.qe, e.emb) AS score,
                 row_number() OVER (
                   ORDER BY list_cosine_similarity(q.qe, e.emb) DESC,
                            e.doc_id, e.chunk_idx) AS rank
          FROM embedded e CROSS JOIN qv q
        ) t
        WHERE rank <= 10
        ORDER BY rank
    """,
)
def rag_index_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.functions.inference import hash_embedding_provider
    from project_orbit_spark.functions.textbank import chunk_text
    from project_orbit_spark.similarity.cosine import cosine

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    chunks = d.select(
        "doc_id", F.explode(chunk_text(F.col("text"), 200)).alias("c")
    ).select(
        "doc_id",
        F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
    )

    # provenance passes THROUGH the Arrow stage — no join to reattach
    # it afterwards (re-deriving chunks on both join sides costs a
    # shuffle and doubles the explode work)
    def embed_with_provenance():
        provider = hash_embedding_provider(4)

        def run(batches):
            import pandas as _pd

            for pdf in batches:
                yield _pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "chunk_idx": pdf["chunk_idx"],
                        "embedding": provider(pdf["chunk_text"]),
                    }
                )

        return run

    embedded = chunks.mapInPandas(
        embed_with_provenance(), "doc_id long, chunk_idx long, embedding array<double>"
    )

    # The query embedding is the SAME deterministic provider the chunk
    # stage uses, over one constant string — evaluate it driver-side
    # and inline the vector as a literal instead of shipping a 1-row
    # DataFrame through its own mapInPandas stage + broadcast join
    # (a full Python-worker round trip to hash 25 bytes).
    import pandas as pd

    [qvec] = hash_embedding_provider(4)(pd.Series(["corpus spark stream query"]))
    qe = F.array(*[F.lit(v) for v in qvec])

    scored = embedded.select(
        "doc_id",
        "chunk_idx",
        cosine(qe, F.col("embedding")).alias("score"),
    )
    # Distributed top-k: orderBy().limit() plans as TakeOrderedAndProject
    # (per-partition heap + driver merge of 10-row heads) instead of
    # funnelling every scored chunk through one task for a global
    # row_number window. The rank window that remains runs over the
    # already-collected 10 rows — a no-op at any scale.
    top = scored.orderBy(
        F.desc("score"), F.asc("doc_id"), F.asc("chunk_idx")
    ).limit(10)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"), F.asc("chunk_idx"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("doc_id", "chunk_idx", F.round("score", 6).alias("score"), "rank")
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Composed RAG dashboard — retrieve → generate (stub) → patch, one plan.

_DASH_SECTIONS = (
    "Company Overview",
    "Business Model and GTM",
    "Funding & Investor Profile",
    "Growth Momentum",
    "Visibility & Market Sentiment",
    "Risks and Challenges",
    "Outlook",
    "Disclosure Gaps",
)
_DASH_COMPANIES = ("src0", "src1", "src2", "src3", "src4")
_DASH_K = len(_DASH_SECTIONS)  # one retrieved context per section
_CTX_MIN_CHARS = 250  # generation quality gate → O4 patching below it


def _embed4(col):
    """JVM-side face of the md5-byte stub embedding (dims 1-4 of
    inference.py's hash_embedding_provider; SQL face _DUCK_EMBED4)."""
    return F.array(
        *[
            F.conv(F.substring(F.md5(col), 1 + 2 * i, 2), 16, 10).cast("double")
            / 256.0
            for i in range(4)
        ]
    )


_DASH_SECTION_VALUES = ", ".join(
    f"({i + 1}, '{s}')" for i, s in enumerate(_DASH_SECTIONS)
)
_DASH_COMPANY_LIST = ", ".join(f"'{c}'" for c in _DASH_COMPANIES)


@register(
    "rag_dashboard_gold",
    bench=True,
    tags=("pipeline", "gold", "retrieval"),
    doc="End-to-end dashboard generation as ONE composed plan, "
    "mirroring ref src/rag_pipeline.py:95-235: per company, (1) "
    "retrieve top-8 contexts by stub-embedding cosine against the "
    "enhanced query (E3+W1), (2) verify retrieved provenance against "
    "the expected company (the reference's source_path check, "
    "rag_pipeline.py:137-141), (3) generate one section per context "
    "rank — deterministic LLM-free face, same E5 duality as "
    "llm_extract_funding_stub — and (4) patch the 8 mandatory "
    "sections, writing 'Not disclosed.' where the context fails the "
    "quality gate (rag_pipeline.py:204-215). Scale shape: corpus "
    "scanned once; per-company top-k is one rank whose rank <= 8 "
    "filter plans a partial WindowGroupLimit below the company "
    "exchange (each map partition ships <= 8 rows per company), so "
    "few-company skew never funnels the corpus through 5 window "
    "partitions.",
    oracle=f"""
        WITH companies AS (SELECT unnest([{_DASH_COMPANY_LIST}]) AS company),
        sections AS (
          SELECT * FROM (VALUES {_DASH_SECTION_VALUES}) AS s(section_idx, section_name)
        ),
        qe AS (
          SELECT company,
                 {_DUCK_EMBED4.format(t="company || ' investor diligence dashboard'")} AS qv
          FROM companies
        ),
        docs AS (
          SELECT doc_id, source, n_chars,
                 {_DUCK_EMBED4.format(t="substring(text, 1, 120)")} AS dv
          FROM documents
        ),
        scored AS (
          SELECT q.company, d.doc_id, d.source, d.n_chars,
                 round(list_cosine_similarity(q.qv, d.dv), 6) AS score
          FROM qe q CROSS JOIN docs d
        ),
        retrieved AS (
          SELECT * FROM (
            SELECT *, CAST(row_number() OVER (
              PARTITION BY company ORDER BY score DESC, doc_id) AS BIGINT) AS rank
            FROM scored
          ) WHERE rank <= {_DASH_K}
        ),
        own AS (
          SELECT company,
                 CAST(sum(CASE WHEN source = company THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_own_ctx
          FROM retrieved GROUP BY company
        )
        SELECT c.company,
               CAST(s.section_idx AS BIGINT) AS section_idx,
               '## ' || s.section_name AS section_header,
               CASE WHEN r.doc_id IS NULL OR r.n_chars < {_CTX_MIN_CHARS}
                    THEN 'Not disclosed.'
                    ELSE 'ctx doc ' || r.doc_id::VARCHAR || ' from ' || r.source
                         || ' | chars ' || r.n_chars::VARCHAR END AS section_body,
               CAST(CASE WHEN r.doc_id IS NULL OR r.n_chars < {_CTX_MIN_CHARS}
                    THEN 1 ELSE 0 END AS BIGINT) AS patched,
               CASE WHEN r.n_chars >= {_CTX_MIN_CHARS} THEN r.doc_id END AS ctx_doc_id,
               CASE WHEN r.n_chars >= {_CTX_MIN_CHARS} THEN r.score END AS ctx_score,
               o.n_own_ctx,
               CAST(CASE WHEN o.n_own_ctx > 0 THEN 1 ELSE 0 END AS BIGINT)
                 AS company_verified
        FROM companies c
        CROSS JOIN sections s
        LEFT JOIN retrieved r ON r.company = c.company AND r.rank = s.section_idx
        LEFT JOIN own o ON o.company = c.company
        ORDER BY c.company, section_idx
    """,
)
def rag_dashboard_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    companies = spark.createDataFrame(
        [(c,) for c in _DASH_COMPANIES], "company string"
    ).select(
        "company",
        _embed4(
            F.concat(F.col("company"), F.lit(" investor diligence dashboard"))
        ).alias("qv"),
    )
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars", _embed4(F.substring("text", 1, 120)).alias("dv")
    )
    from project_orbit_spark.similarity.cosine import cosine

    scored = (
        F.broadcast(companies)
        .crossJoin(docs)
        .select(
            "company",
            "doc_id",
            "source",
            "n_chars",
            F.round(cosine(F.col("qv"), F.col("dv")), 6).alias("score"),
        )
    )
    # the rank <= k filter plans a partial WindowGroupLimit below the
    # company exchange: each map partition ships <= k rows per company,
    # so the corpus never funnels into |companies| reducers
    w = Window.partitionBy("company").orderBy(F.desc("score"), F.asc("doc_id"))
    retrieved = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _DASH_K)
    )
    own = retrieved.groupBy("company").agg(
        F.sum((F.col("source") == F.col("company")).cast("long")).alias("n_own_ctx")
    )
    sections = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(_DASH_SECTIONS)],
        "section_idx long, section_name string",
    )
    grid = F.broadcast(
        companies.select("company")
    ).crossJoin(F.broadcast(sections))
    r = retrieved.withColumnRenamed("company", "r_company").withColumnRenamed(
        "rank", "r_rank"
    )
    joined = (
        grid.join(
            r,
            (F.col("r_company") == F.col("company"))
            & (F.col("r_rank") == F.col("section_idx")),
            "left",
        )
        .join(
            own.withColumnRenamed("company", "o_company"),
            F.col("o_company") == F.col("company"),
            "left",
        )
    )
    low_quality = F.col("doc_id").isNull() | (F.col("n_chars") < _CTX_MIN_CHARS)
    return joined.select(
        F.col("company"),
        F.col("section_idx"),
        F.concat(F.lit("## "), F.col("section_name")).alias("section_header"),
        F.when(low_quality, F.lit("Not disclosed."))
        .otherwise(
            F.concat(
                F.lit("ctx doc "),
                F.col("doc_id").cast("string"),
                F.lit(" from "),
                F.col("source"),
                F.lit(" | chars "),
                F.col("n_chars").cast("string"),
            )
        )
        .alias("section_body"),
        low_quality.cast("long").alias("patched"),
        F.when(F.col("n_chars") >= _CTX_MIN_CHARS, F.col("doc_id")).alias("ctx_doc_id"),
        F.when(F.col("n_chars") >= _CTX_MIN_CHARS, F.col("score")).alias("ctx_score"),
        F.col("n_own_ctx"),
        # 0, not NULL, for a company with no retrieved context (no rows)
        F.when(F.col("n_own_ctx") > 0, 1).otherwise(0).cast("long").alias("company_verified"),
    ).orderBy("company", "section_idx")


@register(
    "company_gold_profile",
    tags=("pipeline", "gold"),
    doc="§3.1 bronze→silver→gold composition: per customer, the "
    "extracted press funding facts (silver, C3/C7/C8 over the derived "
    "press corpus) joined to order-payload aggregates (J8) and the "
    "as-of latest order (J10) into one wide gold profile row.",
    oracle="""
        WITH press AS (
          SELECT o.o_custkey AS custkey,
                 round(sum(CAST(regexp_extract(
                   c.c_name || ' raised $' || CAST(round(o.o_totalprice / 1000, 1) AS VARCHAR) || 'M',
                   'raised \\$([0-9]+(?:\\.[0-9]+)?)M', 1) AS DOUBLE) * 1e6), 2)
                   AS total_extracted_usd,
                 count(*) AS n_press
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE o.o_orderkey % 50 = 0
          GROUP BY o.o_custkey
        ),
        payload AS (
          SELECT o_custkey, count(*) AS n_orders,
                 round(sum(o_totalprice), 2) AS lifetime_value,
                 arg_max(o_orderkey,
                         datediff('day', DATE '1970-01-01', o_orderdate) * 1000000
                           + o_orderkey) AS latest_orderkey
          FROM orders GROUP BY o_custkey
        )
        SELECT c.c_custkey, c.c_name, c.c_mktsegment,
               coalesce(p.n_orders, 0) AS n_orders,
               p.lifetime_value, p.latest_orderkey,
               pr.total_extracted_usd,
               coalesce(pr.n_press, 0) AS n_press
        FROM customer c
        LEFT JOIN payload p ON p.o_custkey = c.c_custkey
        LEFT JOIN press pr  ON pr.custkey = c.c_custkey
        ORDER BY c.c_custkey
    """,
)
def company_gold_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")

    press = (
        o.filter(F.col("o_orderkey") % 50 == 0)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.regexp_extract(
                F.concat(
                    "c_name",
                    F.lit(" raised $"),
                    F.round(F.col("o_totalprice") / 1000, 1).cast("string"),
                    F.lit("M"),
                ),
                r"raised \$([0-9]+(?:\.[0-9]+)?)M",
                1,
            )
            .cast("double")
            .alias("amt_m"),
        )
        .groupBy("custkey")
        .agg(
            F.round(F.sum(F.col("amt_m") * 1e6), 2).alias("total_extracted_usd"),
            F.count(F.lit(1)).alias("n_press"),
        )
    )
    order_rank = (
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        * 1000000
        + F.col("o_orderkey")
    )
    payload = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("lifetime_value"),
        F.max_by("o_orderkey", order_rank).alias("latest_orderkey"),
    )
    return (
        c.join(payload, payload.o_custkey == c.c_custkey, "left")
        .join(press, press.custkey == c.c_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            "lifetime_value",
            "latest_orderkey",
            "total_extracted_usd",
            F.coalesce("n_press", F.lit(0)).alias("n_press"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Risk report — §3.3's risk_detector fan-out composed as one plan.

_RISK_LEXICON = (
    ("latency", "slow", "medium"),
    ("stability", "error", "high"),
    ("volume", "big", "low"),
)
_RISK_LEXICON_VALUES = ", ".join(
    f"('{c}', '{k}', '{s}')" for c, k, s in _RISK_LEXICON
)


@register(
    "risk_report_gold",
    tags=("pipeline", "gold", "risk"),
    doc="§3.3 risk workflow composed as ONE plan (ref "
    "src/agents/workflow.py:246-291: risk_detector fans detection "
    "across dashboard text, company corpus, and retrieved context, "
    "then A8-dedupes): the same severity-tagged lexicon (E7, "
    "src/risk_detection.py:21-82) scans (1) the dashboard surface "
    "(first-120-char excerpt), (2) the retrieved-context subset "
    "(doc_id < 200), and (3) the full corpus; the tagged union "
    "dedupes first-wins per (doc_id, risk_class) by source priority "
    "(dashboard > retrieved > corpus, the reference's keep-first at "
    "workflow.py:246-291) and carries how many sources agreed. "
    "Scale shape: the lexicon is a broadcast theta join on each arm; "
    "the dedup is one shuffle on (doc_id, risk_class).",
    oracle=f"""
        WITH lexicon AS (
          SELECT * FROM (VALUES {_RISK_LEXICON_VALUES})
            AS t(risk_class, keyword, severity)
        ),
        arms AS (
          SELECT d.doc_id, x.risk_class, x.severity, x.keyword,
                 'dashboard' AS origin, 1 AS origin_rank
          FROM documents d JOIN lexicon x
            ON strpos(lower(substring(d.text, 1, 120)), x.keyword) > 0
          UNION ALL
          SELECT d.doc_id, x.risk_class, x.severity, x.keyword,
                 'retrieved' AS origin, 2 AS origin_rank
          FROM documents d JOIN lexicon x
            ON strpos(lower(d.text), x.keyword) > 0
          WHERE d.doc_id < 200
          UNION ALL
          SELECT d.doc_id, x.risk_class, x.severity, x.keyword,
                 'corpus' AS origin, 3 AS origin_rank
          FROM documents d JOIN lexicon x
            ON strpos(lower(d.text), x.keyword) > 0
        )
        SELECT doc_id, risk_class, severity, keyword,
               arg_min(origin, origin_rank) AS origin,
               CAST(count(DISTINCT origin) AS BIGINT) AS n_sources
        FROM arms
        GROUP BY doc_id, risk_class, severity, keyword
        ORDER BY doc_id, risk_class
    """,
)
def risk_report_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    lex = spark.createDataFrame(
        list(_RISK_LEXICON), "risk_class string, keyword string, severity string"
    )

    def arm(docs: DataFrame, text_col, origin: str, rank: int) -> DataFrame:
        return (
            docs.join(
                F.broadcast(lex), F.instr(F.lower(text_col), F.col("keyword")) > 0
            )
            .select(
                "doc_id",
                "risk_class",
                "severity",
                "keyword",
                F.lit(origin).alias("origin"),
                F.lit(rank).alias("origin_rank"),
            )
        )

    arms = (
        arm(d, F.substring("text", 1, 120), "dashboard", 1)
        .unionByName(arm(d.filter(F.col("doc_id") < 200), F.col("text"), "retrieved", 2))
        .unionByName(arm(d, F.col("text"), "corpus", 3))
    )
    return (
        arms.groupBy("doc_id", "risk_class", "severity", "keyword")
        .agg(
            F.min_by("origin", "origin_rank").alias("origin"),
            F.countDistinct("origin").cast("long").alias("n_sources"),
        )
        .orderBy("doc_id", "risk_class")
    )


@register(
    "corpus_curation_gold",
    bench=True,
    tags=("pipeline", "corpus", "dedup", "quality"),
    doc="The full training-corpus curation pass composed as ONE plan — "
    "quality gate → near-dup canonicalization → split assignment, the "
    "pipeline a 100 TB pretraining corpus runs end-to-end (extends the "
    "reference's ingest chain §3.1 with the curation stages its "
    "platform stops short of). Stage order is the scale-critical part: "
    "the cheap codegen quality gate (doc_quality_scores' exact "
    "formula) runs FIRST so the expensive MinHash pair stage only "
    "shingles surviving docs; pairs → connected components → "
    "cluster-min canonical (operators/graph.py); survivors get the "
    "deterministic md5-bucket 80/10/10 split (train_val_test_split's "
    "formula — membership stays a pure function of the row). Every "
    "doc gets a verdict: dropped_quality | removed_dup | kept, with "
    "the split only on kept docs. Oracle = the same three stages' "
    "oracle CTEs chained (quality scored CTE + _MINHASH_PAIRS_BODY + "
    "recursive closure + bucket CASE).",
    oracle=f"""
        WITH RECURSIVE scored AS (
          SELECT doc_id, lang, text,
                 0.4 * least(n_chars::DOUBLE / 500.0, 1.0)
                 + 0.3 * least(
                     (len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                      t -> t IN ('the', 'a', 'of', 'and')))::DOUBLE
                      / nullif(len(string_split_regex(trim(lower(text)), '\\s+')), 0)::DOUBLE)
                     * 4, 1.0)
                 + 0.3 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                          / nullif(length(text), 0)::DOUBLE) AS q
          FROM documents
        ),
        corpus AS (SELECT doc_id, text FROM scored WHERE q >= 0.5),
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
          SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
        ),
        verdict AS (
          SELECT s.doc_id, s.lang,
                 floor(s.q * 10000) / 10000 AS quality,
                 CASE WHEN s.q < 0.5 THEN 'dropped_quality'
                      WHEN coalesce(l.cluster_id, s.doc_id) != s.doc_id THEN 'removed_dup'
                      ELSE 'kept' END AS status
          FROM scored s LEFT JOIN labels l USING (doc_id)
        )
        SELECT doc_id, lang, quality, status,
               CASE WHEN status = 'kept' THEN
                 CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val'
                      ELSE 'test' END
               END AS split
        FROM (
          SELECT *,
                 CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS UBIGINT) AS BIGINT) % 100 AS bucket
          FROM verdict
        )
        ORDER BY doc_id
    """,
)
def corpus_curation_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.functions.textquality import quality_score
    from project_orbit_spark.operators.corpus import hash_bucket, split_of
    from project_orbit_spark.operators.dedup import join_clusters, minhash_pairs
    from project_orbit_spark.operators.graph import connected_components

    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang", "text", quality_score(F.col("text"), F.col("n_chars")).alias("q")
    )
    kept_q = scored.filter(F.col("q") >= 0.5).select("doc_id", "text")
    cc = connected_components(minhash_pairs(kept_q), "left_id", "right_id")
    canonical = F.coalesce("cluster_id", F.col("doc_id"))
    verdict = join_clusters(scored, cc).select(
        "doc_id",
        "lang",
        (F.floor(F.col("q") * 10000) / 10000).alias("quality"),
        F.when(F.col("q") < 0.5, "dropped_quality")
        .when(canonical != F.col("doc_id"), "removed_dup")
        .otherwise("kept")
        .alias("status"),
    )
    split = split_of(hash_bucket(F.col("doc_id")))
    return verdict.select(
        "doc_id",
        "lang",
        "quality",
        "status",
        F.when(F.col("status") == "kept", split).alias("split"),
    ).orderBy("doc_id")
