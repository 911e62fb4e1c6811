"""Page-type probe frontier — SURVEY.md §2.1 S3's generation half.

The reference probes each seed company's site for 12 page types by
trying an ordered list of URL patterns per type until one answers 200
(/root/reference/src/scraper_v2.py:80-93 PAGE_PATTERNS,
1234-1245 _find_page_url). The engine generates that probe frontier as
a table: seed companies × the 56 (page_type, pattern) candidates, in
probe order, with shared-URL fan-in counted (``/press`` serves both
the blog and press types). The fetch itself — HEAD each probe_url,
keep the first 2xx per (company, page_type) — is a documented
``mapInPandas`` seam over this frontier, exactly like the E1/E5
pluggable-provider duality: the frontier is the distributed work
list, one partition per batch of probes.

Scale shape: the pattern table is a 56-row broadcast; the frontier is
seeds × 56 produced map-side with no shuffle; the fan-in count is one
bounded groupBy on (company, url).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_orbit_spark.catalog import load
from project_orbit_spark.registry import register

# All 12 page types with their ordered probe patterns, verbatim from
# the reference's PAGE_PATTERNS (scraper_v2.py:80-93).
PAGE_PATTERNS: dict[str, tuple[str, ...]] = {
    "homepage": ("/",),
    "about": ("/about", "/company", "/about-us", "/who-we-are", "/our-story"),
    "product": ("/product", "/products", "/platform", "/solutions", "/features"),
    "careers": ("/careers", "/jobs", "/join-us", "/work-with-us"),
    "blog": ("/blog", "/news", "/press", "/newsroom", "/insights", "/resources"),
    "team": (
        "/team",
        "/leadership",
        "/about/team",
        "/about/leadership",
        "/people",
        "/our-team",
    ),
    "investors": ("/investors", "/funding", "/about/investors", "/backed-by", "/backers"),
    "customers": (
        "/customers",
        "/case-studies",
        "/success-stories",
        "/testimonials",
        "/customer-stories",
    ),
    "press": ("/press", "/newsroom", "/media", "/news-and-press", "/press-releases"),
    "pricing": ("/pricing", "/plans", "/price", "/buy", "/purchase"),
    "partners": ("/partners", "/integrations", "/ecosystem", "/partner", "/integration"),
    "contact": ("/contact", "/contact-us", "/get-in-touch", "/reach-us"),
}

_PATTERN_ROWS = [
    (ptype, order + 1, pattern)
    for ptype, patterns in PAGE_PATTERNS.items()
    for order, pattern in enumerate(patterns)
]

_PATTERN_VALUES = ", ".join(
    f"('{t}', {o}, '{p}')" for t, o, p in _PATTERN_ROWS
)


@register(
    "ats_probe_frontier",
    tags=("source", "frontier"),
    doc="S3 probe-frontier generator (ref src/scraper_v2.py:80-93 "
    "PAGE_PATTERNS × 1234-1245 _find_page_url): seed companies (every "
    "100th customer, slugged like E3's enhancement) × the 56 ordered "
    "(page_type, pattern) probes, with per-URL fan-in counting the "
    "page types sharing a candidate URL. The HEAD-probe fetch stage "
    "consumes this table through a mapInPandas seam (see module "
    "docstring) — generation is the oracle-checkable half.",
    oracle=f"""
        WITH seeds AS (
          SELECT lower(regexp_replace(c_name, '[^a-zA-Z0-9]', '', 'g')) AS company
          FROM customer WHERE c_custkey % 100 = 0
        ),
        patterns AS (
          SELECT * FROM (VALUES {_PATTERN_VALUES})
            AS p(page_type, probe_order, pattern)
        ),
        frontier AS (
          SELECT s.company, p.page_type,
                 CAST(p.probe_order AS BIGINT) AS probe_order,
                 'https://' || s.company || '.com' || p.pattern AS probe_url
          FROM seeds s CROSS JOIN patterns p
        ),
        fanin AS (
          SELECT company, probe_url, count(*) AS n_types_for_url
          FROM frontier GROUP BY company, probe_url
        )
        SELECT f.company, f.page_type, f.probe_order, f.probe_url,
               fi.n_types_for_url
        FROM frontier f JOIN fanin fi USING (company, probe_url)
        ORDER BY f.company, f.page_type, f.probe_order
    """,
)
def ats_probe_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    seeds = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 == 0)
        .select(
            F.lower(F.regexp_replace("c_name", "[^a-zA-Z0-9]", "")).alias("company")
        )
    )
    patterns = spark.createDataFrame(
        _PATTERN_ROWS, "page_type string, probe_order long, pattern string"
    )
    frontier = seeds.crossJoin(F.broadcast(patterns)).select(
        "company",
        "page_type",
        "probe_order",
        F.concat(
            F.lit("https://"), F.col("company"), F.lit(".com"), F.col("pattern")
        ).alias("probe_url"),
    )
    fanin = frontier.groupBy("company", "probe_url").agg(
        F.count(F.lit(1)).alias("n_types_for_url")
    )
    return frontier.join(fanin, ["company", "probe_url"]).select(
        "company", "page_type", "probe_order", "probe_url", "n_types_for_url"
    ).orderBy("company", "page_type", "probe_order")


# Feed-candidate grid, verbatim from the reference's dynamic company
# profile (company_profiles.py:48-50: base_paths × feed_names).
FEED_BASE_PATHS: tuple[str, ...] = ("/blog", "/news", "/press", "/feed", "")
FEED_NAMES: tuple[str, ...] = ("rss.xml", "feed.xml", "rss", "feed", "atom.xml", "index.xml")

_FEED_GRID_ROWS = [(bp, fn) for bp in FEED_BASE_PATHS for fn in FEED_NAMES]
_FEED_GRID_VALUES = ", ".join(f"('{bp}', '{fn}')" for bp, fn in _FEED_GRID_ROWS)


def _feed_homepage_html(source):
    """Template a deterministic homepage per company with head
    ``<link>`` tags: an RSS alternate when len(source) is even, an Atom
    alternate (at a path OUTSIDE the candidate grid) when len(source) %
    3 == 0, plus two decoys (stylesheet, text/html alternate) that the
    type filter must reject."""
    even = F.length(source) % 2 == 0
    third = F.length(source) % 3 == 0
    return F.concat(
        F.lit("<html><head><title>"), source, F.lit(" home</title>"),
        F.lit('<link rel="stylesheet" href="/style.css">'),
        F.when(
            even,
            F.lit('<link rel="alternate" type="application/rss+xml" href="/blog/rss.xml">'),
        ).otherwise(F.lit("")),
        F.when(
            third,
            F.lit('<link rel="alternate" type="application/atom+xml" href="/updates/atom.xml">'),
        ).otherwise(F.lit("")),
        F.lit('<link rel="alternate" type="text/html" href="/mobile">'),
        F.lit("</head><body><p>"), source, F.lit(" welcome</p></body></html>"),
    )


def _make_feed_link_extractor():
    """Feed autodiscovery parse as a closure (pickled by value). The
    reference scans ``<link>`` tags whose *type* contains rss/atom/xml
    (news_extractor.py:30-40) and resolves hrefs against the base URL
    with urljoin; same filter and root-relative resolution here, via
    the stdlib event parser."""

    def extract(batches):
        import pandas as _pd
        from html.parser import HTMLParser

        class LinkParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.hrefs: list[str] = []

            def handle_starttag(self, tag, attrs):
                if tag != "link":
                    return
                a = dict(attrs)
                t = (a.get("type") or "").lower()
                if ("rss" in t or "atom" in t or "xml" in t) and a.get("href"):
                    self.hrefs.append(a["href"])

        def parse_one(row):
            p = LinkParser()
            p.feed(row["html"])
            base = f"https://{row['company']}.com"
            return [
                h if h.startswith("http") else base + h for h in p.hrefs
            ]

        for pdf in batches:
            out = _pd.DataFrame(
                {
                    "company": pdf["company"],
                    "feed_url": pdf.apply(parse_one, axis=1),
                }
            )
            yield out.explode("feed_url").dropna(subset=["feed_url"])

    return extract


@register(
    "feed_autodiscovery",
    tags=("source", "frontier", "pandas_udf"),
    doc="Blog-feed autodiscovery (ref news_extractor.py:30-57 "
    "find_rss_feeds + company_profiles.py:44-55 feed grid): per-company "
    "templated homepage head is parsed for <link> tags whose type "
    "contains rss/atom/xml (decoy stylesheet/text-html links rejected), "
    "hrefs resolved root-relative; discovered feeds union the 30-slot "
    "base_path x feed_name candidate grid, deduped per (company, url) "
    "with link_tag provenance winning over pattern. Scale shape: "
    "companies are a bounded distinct of documents.source; the grid is "
    "a 30-row broadcast; the parse is one Arrow batch per company "
    "partition.",
    oracle=f"""
        WITH companies AS (SELECT DISTINCT source FROM documents),
        disc AS (
          SELECT source AS company,
                 'https://' || source || '.com/blog/rss.xml' AS feed_url,
                 'link_tag' AS via
          FROM companies WHERE length(source) % 2 = 0
          UNION ALL
          SELECT source, 'https://' || source || '.com/updates/atom.xml',
                 'link_tag'
          FROM companies WHERE length(source) % 3 = 0
        ),
        grid AS (
          SELECT c.source AS company,
                 'https://' || c.source || '.com' || g.bp || '/' || g.fn
                   AS feed_url,
                 'pattern' AS via
          FROM companies c
          CROSS JOIN (VALUES {_FEED_GRID_VALUES}) AS g(bp, fn)
        )
        SELECT company, feed_url, min(via) AS via
        FROM (SELECT * FROM disc UNION ALL SELECT * FROM grid)
        GROUP BY company, feed_url
        ORDER BY company, feed_url
    """,
)
def feed_autodiscovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    companies = (
        load(spark, sf_dir, "documents").select(F.col("source").alias("company")).distinct()
    )
    pages = companies.select(
        "company", _feed_homepage_html(F.col("company")).alias("html")
    )
    discovered = pages.mapInPandas(
        _make_feed_link_extractor(), "company string, feed_url string"
    ).withColumn("via", F.lit("link_tag"))
    grid = spark.createDataFrame(_FEED_GRID_ROWS, "bp string, fn string")
    candidates = companies.crossJoin(F.broadcast(grid)).select(
        "company",
        F.concat(
            F.lit("https://"), F.col("company"), F.lit(".com"),
            F.col("bp"), F.lit("/"), F.col("fn"),
        ).alias("feed_url"),
        F.lit("pattern").alias("via"),
    )
    return (
        discovered.unionByName(candidates)
        .groupBy("company", "feed_url")
        .agg(F.min("via").alias("via"))
        .orderBy("company", "feed_url")
    )


def _make_index_link_harvester():
    """Blog-index article-link harvest as a closure (pickled by
    value). Mirrors the reference's selector walk + three filters
    (news_extractor.py:91-129): anchors inside <article> scope,
    same-domain only, skip /category/ /tag/ /author/ /page/ /search
    /archive, keep only URLs with an article keyword, dedupe
    preserving first-seen order."""

    def extract(batches):
        import pandas as _pd
        from html.parser import HTMLParser
        from urllib.parse import urljoin, urlparse

        SKIP = ("/category/", "/tag/", "/author/", "/page/", "/search", "/archive")
        KEEP = ("/blog/", "/news/", "/post/", "/article/")

        class IndexParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.depth = 0
                self.hrefs: list[str] = []

            def handle_starttag(self, tag, attrs):
                if tag == "article":
                    self.depth += 1
                elif tag == "a" and self.depth > 0:
                    href = dict(attrs).get("href")
                    if href:
                        self.hrefs.append(href)

            def handle_endtag(self, tag):
                if tag == "article" and self.depth > 0:
                    self.depth -= 1

        def harvest(row):
            base = f"https://{row['company']}.com/blog"
            host = urlparse(base).netloc
            p = IndexParser()
            p.feed(row["html"])
            seen: list[str] = []
            for href in p.hrefs:
                full = urljoin(base, href)
                if urlparse(full).netloc != host:
                    continue
                low = href.lower()
                if any(s in low for s in SKIP):
                    continue
                if not any(k in low for k in KEEP):
                    continue
                if full not in seen:
                    seen.append(full)
            return seen

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                for pos, url in enumerate(harvest(row), start=1):
                    rows.append(
                        {"company": row["company"], "article_url": url, "position": pos}
                    )
            yield _pd.DataFrame(
                rows, columns=["company", "article_url", "position"]
            ).astype({"position": "int64"}) if rows else _pd.DataFrame(
                {"company": _pd.Series(dtype="str"),
                 "article_url": _pd.Series(dtype="str"),
                 "position": _pd.Series(dtype="int64")}
            )

    return extract


@register(
    "blog_index_article_links",
    tags=("source", "frontier", "pandas_udf"),
    doc="Blog-index article-link harvest (ref news_extractor.py:91-129 "
    "extract_article_links_from_index): per-company templated index "
    "page of <article> cards (each linking its post twice — the "
    "reference's overlapping selectors — plus category / external / "
    "non-article decoy anchors), parsed for in-article anchors, then "
    "same-domain filter, skip-list, article-keyword check, and "
    "first-seen-order dedupe. An index page lists at most max_articles "
    "= 50 posts (the reference's CompanyProfile default, company_"
    "profiles.py:18), enforced as a two-phase salted head-50 per "
    "company — which also bounds the per-company collect_list at any "
    "corpus size. Scale shape: the page build is one bounded "
    "per-company groupBy over ≤50 rows; the harvest is map-only over "
    "companies; output positions re-derive in SQL as row_number over "
    "doc order.",
    oracle="""
        SELECT company, article_url, position FROM (
          SELECT source AS company,
                 'https://' || source || '.com/blog/post-' || CAST(doc_id AS VARCHAR)
                   AS article_url,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id)
                   AS position
          FROM documents
        ) t
        WHERE position <= 50
        ORDER BY company, position
    """,
)
def blog_index_article_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d0 = load(spark, sf_dir, "documents")
    # max_articles=50 head per company: the r <= 50 filter plans a
    # partial WindowGroupLimit below the source exchange, so no
    # company's full corpus ever funnels through one partition
    w = Window.partitionBy("source").orderBy(F.asc("doc_id"))
    d = d0.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 50)
    card = F.concat(
        F.lit('<article class="post"><h2><a href="/blog/post-'),
        F.col("doc_id").cast("string"),
        F.lit('">t</a></h2><a href="/blog/post-'),
        F.col("doc_id").cast("string"),
        F.lit('">read more</a><a href="/blog/category/eng">cat</a></article>'),
    )
    pages = (
        d.select(F.col("source").alias("company"), "doc_id", card.alias("card"))
        .groupBy("company")
        .agg(
            F.concat(
                F.lit("<html><body><main>"),
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "card"))),
                        lambda s: s["card"],
                    ),
                    "",
                ),
                # decoys outside any filter's reach: external host,
                # same-domain non-article, paging link
                F.lit('<article><a href="https://other.example/blog/x">ext</a>'
                      '<a href="/about">about</a>'
                      '<a href="/blog/page/2">next</a></article>'
                      '<a href="/blog/post-999999">outside-article</a>'
                      "</main></body></html>"),
            ).alias("html")
        )
    )
    return (
        pages.mapInPandas(
            _make_index_link_harvester(),
            "company string, article_url string, position long",
        )
        .orderBy("company", "position")
    )
