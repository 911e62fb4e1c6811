"""HTML field extraction — SURVEY.md §2.7 C16/C18/C19 representative
implementation.

The reference walks HTML per document with BeautifulSoup
(src/scraper_v2.py:120-466: metadata/OG tags, headings, links,
images). That library isn't in this container, so the Arrow-batched
walk uses the stdlib ``html.parser`` — a real event-driven HTML
parse, not a regex — inside a mapInPandas closure (SURVEY §2.10
policy: HTML ops are the pandas_udf tier). The fixture corpus has no
HTML, so a deterministic page is templated from each document; the
oracle re-derives the same fields with SQL regexes over the same
template (possible only because the template is regular — the
Python parser is what a production corpus would rely on).

Every templated face goes through one helper, ``templated_extract``:
it renders a page per row from the face's selected columns and feeds
the batch to the face's extractor inside one mapInPandas closure.
Extractors end in ``_typed_frame``, whose empty result is already the
typed empty frame. Parsers read a valueless attribute (``<div class>``)
as ``""``, as BeautifulSoup does; html.parser reports it as None.
"""

from __future__ import annotations

import html as html_mod
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from project_orbit_spark.catalog import load
from project_orbit_spark.registry import register

EXTRACT_SCHEMA = (
    "doc_id long, page_title string, meta_desc string, n_links long, "
    "first_href string, n_headings long, main_text string"
)


def templated_extract(
    d: DataFrame, page, extractor, schema: str, *, base_url: bool = False
) -> DataFrame:
    """``d.mapInPandas`` of ``extractor`` over ``doc_id`` + ``html``,
    where ``html`` is ``page(*row)`` over ``d``'s columns in select
    order; ``base_url`` adds the ``https://co{doc_id}.com/products/page``
    column the urljoin faces resolve against.

    Python workers started from a foreign cwd cannot import this
    package, so everything the closure reaches must pickle by value:
    the caller builds ``extractor`` on the driver (a ``<locals>``
    function) and ``page`` is a ``<locals>`` function too, never a
    module-level def, which cloudpickle would pickle by reference."""
    cols = d.columns

    def template_then_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def paged():
            import pandas as _pd

            for pdf in batches:
                out = {"doc_id": pdf["doc_id"]}
                if base_url:
                    out["base_url"] = pdf["doc_id"].map(
                        lambda i: f"https://co{i}.com/products/page"
                    )
                out["html"] = [page(*row) for row in zip(*(pdf[c] for c in cols))]
                yield _pd.DataFrame(out)

        yield from extractor(paged())

    return d.mapInPandas(template_then_parse, schema)


def _make_typed_frame():
    # a <locals> closure, so it pickles by value (see templated_extract)
    def typed_frame(rows, cols: list[str], ints: dict[str, str]) -> pd.DataFrame:
        """Rows as a frame with the integer columns cast; with no rows
        the frame is empty with those dtypes, which Arrow converts to
        the face's schema like a non-empty one."""
        import pandas as _pd

        return _pd.DataFrame(rows, columns=cols).astype(ints)

    return typed_frame


_typed_frame = _make_typed_frame()


def html_page(doc_id: Column, text: Column, source: Column) -> Column:
    """Template a deterministic HTML page per document (title from the
    head of the text, meta description, two links, one heading)."""
    title = F.substring(text, 1, 30)
    return F.concat(
        F.lit("<html><head><title>"), title, F.lit("</title>"),
        F.lit('<meta name="description" content="doc '),
        doc_id.cast("string"), F.lit('"></head><body><h1>Heading '),
        doc_id.cast("string"), F.lit("</h1><p>"), text,
        F.lit('</p><a href="https://x.com/'), source,
        F.lit('">s</a><a href="/rel/'), doc_id.cast("string"),
        F.lit('">r</a></body></html>'),
    )


def make_html_extractor():
    """C16 field extractor as a closure (pickled by value — executors
    can't import this package). Event-driven stdlib HTML parse per
    row, Arrow-batched."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd
        from html.parser import HTMLParser

        class FieldParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.title = ""
                self.meta_desc = ""
                self.links: list[str] = []
                self.n_headings = 0
                self.text_parts: list[str] = []
                self._in_title = False
                self._in_body_text = False

            def handle_starttag(self, tag, attrs):
                a = {k: v or "" for k, v in attrs}
                if tag == "title":
                    self._in_title = True
                elif tag == "meta" and a.get("name") == "description":
                    self.meta_desc = a.get("content", "")
                elif tag == "a" and "href" in a:
                    self.links.append(a["href"])
                elif tag in ("h1", "h2", "h3"):
                    self.n_headings += 1
                elif tag == "p":
                    self._in_body_text = True

            def handle_endtag(self, tag):
                if tag == "title":
                    self._in_title = False
                elif tag == "p":
                    self._in_body_text = False

            def handle_data(self, data):
                if self._in_title:
                    self.title += data
                elif self._in_body_text:
                    self.text_parts.append(data)

        def parse_one(html: str) -> dict:
            p = FieldParser()
            p.feed(html)
            return {
                "page_title": p.title,
                "meta_desc": p.meta_desc,
                "n_links": len(p.links),
                "first_href": p.links[0] if p.links else "",
                "n_headings": p.n_headings,
                "main_text": " ".join(p.text_parts),
            }

        for pdf in batches:
            parsed = pdf["html"].map(parse_one)
            out = _pd.DataFrame(list(parsed))
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out["n_links"] = out["n_links"].astype("int64")
            out["n_headings"] = out["n_headings"].astype("int64")
            yield out

    return extract


@register(
    "html_field_extraction",
    tags=("html", "pandas_udf"),
    doc="C16/C19 HTML field extraction (ref src/scraper_v2.py:120-466): "
    "stdlib-HTMLParser walk inside mapInPandas over templated pages — "
    "title, meta description, link census, heading count, main text. "
    "Oracle re-derives the fields with SQL regexes over the same "
    "template.",
    oracle="""
        WITH pages AS (
          SELECT doc_id, text, source,
                 '<html><head><title>' || substring(text, 1, 30) || '</title>'
                 || '<meta name="description" content="doc ' || CAST(doc_id AS VARCHAR)
                 || '"></head><body><h1>Heading ' || CAST(doc_id AS VARCHAR)
                 || '</h1><p>' || text || '</p><a href="https://x.com/' || source
                 || '">s</a><a href="/rel/' || CAST(doc_id AS VARCHAR)
                 || '">r</a></body></html>' AS html
          FROM documents
        )
        SELECT doc_id,
               substring(text, 1, 30) AS page_title,
               'doc ' || CAST(doc_id AS VARCHAR) AS meta_desc,
               CAST(2 AS BIGINT) AS n_links,
               'https://x.com/' || source AS first_href,
               CAST(1 AS BIGINT) AS n_headings,
               text AS main_text
        FROM pages
        ORDER BY doc_id
    """,
)
def html_field_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True)
    pages = d.select(
        "doc_id", html_page(F.col("doc_id"), F.col("text"), F.col("source")).alias("html")
    )
    return pages.mapInPandas(make_html_extractor(), EXTRACT_SCHEMA).orderBy("doc_id")


# ---------------------------------------------------------------------------
# C16 full metadata family: OG / Twitter / canonical / author / robots / lang


def _make_meta_page():
    # a <locals> closure, so it pickles by value (see templated_extract)
    def _meta_page(doc_id: int, lang: str, source: str, text: str) -> str:
        """Deterministic metadata-rich page (ref src/scraper_v2.py:120-179
        OG loop, :353-410 meta walk): canonical link, og:*, twitter:*,
        author/keywords/robots metas, html[lang]."""
        t20 = text[:20]
        robots = "index,follow" if doc_id % 2 == 0 else "noindex"
        return (
            f'<html lang="{lang}"><head><title>{t20}</title>'
            f'<link rel="canonical" href="https://site.example/{source}/{doc_id}">'
            f'<meta property="og:title" content="OG {t20}">'
            f'<meta property="og:image" content="https://img.example/{doc_id}.jpg">'
            f'<meta name="twitter:card" content="summary">'
            f'<meta name="twitter:title" content="TW {doc_id}">'
            f'<meta name="author" content="author-{doc_id % 7}">'
            f'<meta name="keywords" content="k{doc_id % 3},k{doc_id % 5},shared">'
            f'<meta name="robots" content="{robots}">'
            "</head><body><p>x</p></body></html>"
        )
    return _meta_page


_meta_page = _make_meta_page()


META_SCHEMA = (
    "doc_id long, lang_attr string, canonical string, og_title string, "
    "og_image string, twitter_card string, twitter_title string, "
    "author string, robots string, n_keywords long"
)


def make_meta_extractor():
    """C16 metadata walk (ref src/scraper_v2.py:145-156 og:*, :150-155
    twitter:*, :353-410 name/property dispatch, canonical, html[lang])
    as an event-driven stdlib parse — og:*/twitter:* collected as open
    namespaces, not hardcoded fields."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd
        from html.parser import HTMLParser

        class MetaParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.og: dict[str, str] = {}
                self.tw: dict[str, str] = {}
                self.meta: dict[str, str] = {}
                self.canonical = ""
                self.lang = ""

            def handle_starttag(self, tag, attrs):
                a = {k: v or "" for k, v in attrs}
                if tag == "html":
                    self.lang = a.get("lang", "") or self.lang
                elif tag == "meta":
                    name = a.get("name", "") or a.get("property", "") or a.get(
                        "http-equiv", ""
                    )
                    content = a.get("content", "")
                    if name.startswith("og:"):
                        self.og[name[3:]] = content
                    elif name.startswith("twitter:"):
                        self.tw[name[8:]] = content
                    elif name:
                        self.meta[name.lower()] = content
                elif tag == "link" and a.get("rel") == "canonical":
                    self.canonical = a.get("href", "")

        def parse_one(html: str) -> dict:
            p = MetaParser()
            p.feed(html)
            kws = [k.strip() for k in p.meta.get("keywords", "").split(",") if k.strip()]
            return {
                "lang_attr": p.lang,
                "canonical": p.canonical,
                "og_title": p.og.get("title", ""),
                "og_image": p.og.get("image", ""),
                "twitter_card": p.tw.get("card", ""),
                "twitter_title": p.tw.get("title", ""),
                "author": p.meta.get("author", ""),
                "robots": p.meta.get("robots", ""),
                "n_keywords": len(kws),
            }

        for pdf in batches:
            out = _pd.DataFrame(list(pdf["html"].map(parse_one)))
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out["n_keywords"] = out["n_keywords"].astype("int64")
            yield out

    return extract


@register(
    "html_meta_inventory",
    tags=("html", "pandas_udf"),
    doc="C16 full metadata inventory (ref src/scraper_v2.py:120-179 "
    "OG/Twitter loops, :353-410 meta-name dispatch + canonical + "
    "html[lang]): open-namespace og:*/twitter:* collection, author/"
    "keywords/robots metas, canonical link — event-driven stdlib "
    "parse over metadata-rich templated pages; oracle re-derives each "
    "field from the template inputs.",
    oracle="""
        SELECT doc_id,
               lang AS lang_attr,
               'https://site.example/' || source || '/' || CAST(doc_id AS VARCHAR)
                 AS canonical,
               'OG ' || substring(text, 1, 20) AS og_title,
               'https://img.example/' || CAST(doc_id AS VARCHAR) || '.jpg' AS og_image,
               'summary' AS twitter_card,
               'TW ' || CAST(doc_id AS VARCHAR) AS twitter_title,
               'author-' || CAST(doc_id % 7 AS VARCHAR) AS author,
               CASE WHEN doc_id % 2 = 0 THEN 'index,follow' ELSE 'noindex' END
                 AS robots,
               CAST(3 AS BIGINT) AS n_keywords
        FROM documents
        ORDER BY doc_id
    """,
)
def html_meta_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id", "lang", "source", "text")
    return templated_extract(d, _meta_page, make_meta_extractor(), META_SCHEMA).orderBy("doc_id")


# ---------------------------------------------------------------------------
# C18 job-card extraction: table listings + link-pattern heuristics


def _make_careers_page():
    # a <locals> closure, so it pickles by value (see templated_extract)
    def _careers_page(doc_id: int) -> str:
        """Careers page: a job table (Title/Location/Department headers,
        doc_id%4 rows, per-row apply link) plus, for every 5th doc, a
        loose job link outside the table (ref's link-pattern stage)."""
        n = doc_id % 4
        rows = "".join(
            f'<tr><td>Engineer {doc_id}-{i}</td><td>City{i}</td>'
            f'<td>Dept{(doc_id + i) % 3}</td>'
            f'<td><a href="/job/{doc_id}/{i}">apply</a></td></tr>'
            for i in range(n)
        )
        tail = (
            f'<a href="/job/x-{doc_id}">Senior Engineer Opening {doc_id}</a>'
            if doc_id % 5 == 0
            else ""
        )
        return (
            "<html><body><h1>Careers</h1>"
            "<table><tr><th>Title</th><th>Location</th><th>Department</th>"
            f"<th>Apply</th></tr>{rows}</table>{tail}</body></html>"
        )
    return _careers_page


_careers_page = _make_careers_page()


JOBS_SCHEMA = (
    "doc_id long, title string, location string, department string, "
    "href string, src string"
)

_JOB_HEADERS = {"title", "position", "role", "location", "department"}


def make_job_extractor():
    """C18 job-card extraction (ref src/scraper_v2.py:586-637): stage
    5 — tables whose th headers name job fields, one job per data row
    with the row's apply href; stage 6 — anchors outside tables whose
    href matches /job/ and whose text is title-length (10..150)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd
        from html.parser import HTMLParser

        class JobParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.jobs: list[dict] = []
                self._table_depth = 0
                self._rows: list[tuple[list[str], str | None, bool]] = []
                self._cells: list[str] = []
                self._cell: list[str] | None = None
                self._row_href: str | None = None
                self._row_has_th = False
                self._is_job_table = False
                self._a_href: str | None = None
                self._a_text: list[str] = []

            # real-world tables omit closing </td>/</tr>; browsers imply
            # closure at the next cell/row/table boundary, so flush there
            def _flush_cell(self):
                if self._cell is not None:
                    self._cells.append("".join(self._cell).strip())
                self._cell = None

            def _flush_row(self):
                self._flush_cell()
                if self._row_has_th:
                    headers = {c.lower() for c in self._cells}
                    self._is_job_table = bool(headers & _JOB_HEADERS)
                elif self._is_job_table and len(self._cells) >= 2:
                    self.jobs.append(
                        {
                            "title": self._cells[0],
                            "location": self._cells[1] if len(self._cells) > 1 else None,
                            "department": self._cells[2] if len(self._cells) > 2 else None,
                            "href": self._row_href,
                            "src": "table",
                        }
                    )
                self._cells, self._row_href = [], None
                self._row_has_th = False

            def handle_starttag(self, tag, attrs):
                a = {k: v or "" for k, v in attrs}
                if tag == "table":
                    self._table_depth += 1
                    self._is_job_table = False
                elif self._table_depth:
                    if tag == "tr":
                        self._flush_row()
                    elif tag in ("td", "th"):
                        self._flush_cell()
                        self._cell = []
                        self._row_has_th = self._row_has_th or tag == "th"
                    elif tag == "a" and "href" in a:
                        self._row_href = a["href"]
                elif tag == "a" and "href" in a:
                    self._a_href, self._a_text = a["href"], []

            def handle_endtag(self, tag):
                if tag == "table":
                    self._flush_row()
                    self._table_depth = max(0, self._table_depth - 1)
                elif self._table_depth and tag in ("td", "th"):
                    self._flush_cell()
                elif self._table_depth and tag == "tr":
                    self._flush_row()
                elif tag == "a" and self._a_href is not None:
                    text = "".join(self._a_text).strip()
                    if "/job/" in self._a_href and 10 < len(text) < 150:
                        self.jobs.append(
                            {
                                "title": text,
                                "location": None,
                                "department": None,
                                "href": self._a_href,
                                "src": "link_pattern",
                            }
                        )
                    self._a_href = None

            def handle_data(self, data):
                if self._cell is not None:
                    self._cell.append(data)
                elif self._a_href is not None:
                    self._a_text.append(data)

        def parse_one(html: str) -> list[dict]:
            p = JobParser()
            p.feed(html)
            return p.jobs

        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                jobs = parse_one(r.html)
                if jobs:
                    f = _pd.DataFrame(jobs)
                    f.insert(0, "doc_id", r.doc_id)
                    frames.append(f)
            if frames:
                yield _pd.concat(frames, ignore_index=True)

    return extract


@register(
    "html_job_cards",
    tags=("html", "pandas_udf"),
    doc="C18 job-card extraction (ref src/scraper_v2.py:586-637): "
    "header-sniffed table listings (stage 5) + /job/-href link "
    "heuristics outside tables (stage 6), one output row per job. "
    "Oracle regenerates both families from the template arithmetic "
    "(doc_id%4 table rows, every-5th loose link).",
    oracle="""
        WITH tbl AS (
          SELECT doc_id,
                 'Engineer ' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)
                   AS title,
                 'City' || CAST(i AS VARCHAR) AS location,
                 'Dept' || CAST((doc_id + i) % 3 AS VARCHAR) AS department,
                 '/job/' || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
                   AS href,
                 'table' AS src
          FROM documents, UNNEST(range(0, doc_id % 4)) AS t(i)
        ),
        links AS (
          SELECT doc_id,
                 'Senior Engineer Opening ' || CAST(doc_id AS VARCHAR) AS title,
                 CAST(NULL AS VARCHAR) AS location,
                 CAST(NULL AS VARCHAR) AS department,
                 '/job/x-' || CAST(doc_id AS VARCHAR) AS href,
                 'link_pattern' AS src
          FROM documents WHERE doc_id % 5 = 0
        )
        SELECT * FROM (SELECT * FROM tbl UNION ALL SELECT * FROM links) u
        ORDER BY doc_id, src, href
    """,
)
def html_job_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    return templated_extract(d, _careers_page, make_job_extractor(), JOBS_SCHEMA).orderBy(
        "doc_id", "src", "href"
    )


# ---------------------------------------------------------------------------
# C19 article extraction: JSON-LD → OpenGraph → title-tag cascade


def _make_article_page():
    # a <locals> closure, so it pickles by value (see templated_extract)
    def _article_page(doc_id: int, text: str) -> str:
        """Article page exercising the extraction cascade by doc_id%3:
        0 → JSON-LD NewsArticle (headline/author/datePublished) present
            alongside OG tags and a <title> (JSON-LD must win);
        1 → OG tags + author meta + <time datetime> (OG must win);
        2 → bare <title> only (last-resort fallback).

        ``text`` is html.escape'd before templating: HTMLParser
        (convert_charrefs=True) unescapes it back verbatim, so the
        oracle's exact word/length arithmetic over the raw ``text``
        column holds even when the text contains '&', '<' or
        entity-like sequences."""
        text = html_mod.escape(text)
        v = doc_id % 3
        head = [f"<title>{'T ' if v < 2 else 'Plain Title '}{doc_id}</title>"]
        if v == 0:
            head.append(
                '<script type="application/ld+json">'
                '{"@type": "NewsArticle", "headline": "JL Title %d", '
                '"author": {"name": "Jane %d"}, '
                '"datePublished": "2024-0%d-01"}'
                "</script>" % (doc_id, doc_id % 5, 1 + doc_id % 9)
            )
        if v < 2:
            head.append(f'<meta property="og:title" content="OG Title {doc_id}">')
            head.append(f'<meta property="og:description" content="OG Desc {doc_id}">')
        if v == 1:
            head.append(f'<meta name="author" content="Meta Author {doc_id % 5}">')
            body_date = f'<time datetime="2024-11-0{1 + doc_id % 9}">then</time>'
        else:
            body_date = ""
        return (
            "<html><head>" + "".join(head) + "</head><body>"
            f"{body_date}<article><p>{text}</p></article></body></html>"
        )
    return _article_page


_article_page = _make_article_page()


ARTICLE_SCHEMA = (
    "doc_id long, title string, author string, date_published string, "
    "excerpt string, word_count long, reading_time long, title_src string"
)


def make_article_extractor():
    """C19 article extraction (ref src/scraper_v2.py:740-865): the
    JSON-LD Article → OpenGraph → meta/title-tag cascade for
    title/author/date/excerpt, content from the <article> element,
    word count and ~200wpm reading time."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json

        import pandas as _pd
        from html.parser import HTMLParser

        class ArticleParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.title_tag = ""
                self.og: dict[str, str] = {}
                self.meta: dict[str, str] = {}
                self.jsonld: list[dict] = []
                self.time_dt = ""
                self.article_parts: list[str] = []
                self._in_title = False
                self._in_jsonld = False
                self._article_depth = 0

            def handle_starttag(self, tag, attrs):
                a = {k: v or "" for k, v in attrs}
                if tag == "title":
                    self._in_title = True
                elif tag == "script" and a.get("type") == "application/ld+json":
                    self._in_jsonld = True
                elif tag == "meta":
                    name = a.get("name", "") or a.get("property", "")
                    if name.startswith("og:"):
                        self.og[name[3:]] = a.get("content", "")
                    elif name:
                        self.meta[name.lower()] = a.get("content", "")
                elif tag == "time" and "datetime" in a:
                    self.time_dt = self.time_dt or a["datetime"]
                elif tag == "article":
                    self._article_depth += 1

            def handle_endtag(self, tag):
                if tag == "title":
                    self._in_title = False
                elif tag == "script":
                    self._in_jsonld = False
                elif tag == "article":
                    self._article_depth = max(0, self._article_depth - 1)

            def handle_data(self, data):
                if self._in_title:
                    self.title_tag += data
                elif self._in_jsonld:
                    try:
                        obj = _json.loads(data)
                    except ValueError:
                        obj = None
                    if isinstance(obj, dict):
                        self.jsonld.append(obj)
                    elif isinstance(obj, list):
                        self.jsonld.extend(o for o in obj if isinstance(o, dict))
                elif self._article_depth:
                    self.article_parts.append(data)

        def parse_one(html: str) -> dict:
            p = ArticleParser()
            p.feed(html)
            title = author = date = excerpt = ""
            title_src = ""
            for item in p.jsonld:
                if item.get("@type") in ("Article", "BlogPosting", "NewsArticle"):
                    title = item.get("headline") or item.get("name") or ""
                    au = item.get("author")
                    author = au.get("name", "") if isinstance(au, dict) else (au or "")
                    date = item.get("datePublished", "")
                    excerpt = item.get("description", "")
                    title_src = "json_ld" if title else ""
            if not title and p.og.get("title"):
                title, title_src = p.og["title"], "opengraph"
            if not title:
                title, title_src = p.title_tag.strip(), "title_tag"
            if not excerpt:
                excerpt = p.og.get("description", "") or p.meta.get("description", "")
            if not author:
                author = p.meta.get("author", "")
            if not date:
                date = p.time_dt or p.meta.get("article:published_time", "")
            content = " ".join(s for s in (t.strip() for t in p.article_parts) if s)
            wc = len(content.split())
            return {
                "title": title,
                "author": author,
                "date_published": date,
                "excerpt": excerpt,
                "word_count": wc,
                "reading_time": max(1, wc // 200),
                "title_src": title_src,
            }

        for pdf in batches:
            out = _pd.DataFrame(list(pdf["html"].map(parse_one)))
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out["word_count"] = out["word_count"].astype("int64")
            out["reading_time"] = out["reading_time"].astype("int64")
            yield out

    return extract


@register(
    "html_article_extract",
    tags=("html", "pandas_udf"),
    doc="C19 article extraction (ref src/scraper_v2.py:740-865): "
    "JSON-LD NewsArticle → OpenGraph → title-tag cascade (templated "
    "pages rotate which tier is authoritative via doc_id%3, so every "
    "fallback path is exercised), content from <article>, word count "
    "+ 200wpm reading time. Oracle reproduces the cascade with CASE "
    "arithmetic over the template inputs.",
    oracle="""
        SELECT doc_id,
               CASE doc_id % 3
                 WHEN 0 THEN 'JL Title ' || CAST(doc_id AS VARCHAR)
                 WHEN 1 THEN 'OG Title ' || CAST(doc_id AS VARCHAR)
                 ELSE 'Plain Title ' || CAST(doc_id AS VARCHAR) END AS title,
               CASE doc_id % 3
                 WHEN 0 THEN 'Jane ' || CAST(doc_id % 5 AS VARCHAR)
                 WHEN 1 THEN 'Meta Author ' || CAST(doc_id % 5 AS VARCHAR)
                 ELSE '' END AS author,
               CASE doc_id % 3
                 WHEN 0 THEN '2024-0' || CAST(1 + doc_id % 9 AS VARCHAR) || '-01'
                 WHEN 1 THEN '2024-11-0' || CAST(1 + doc_id % 9 AS VARCHAR)
                 ELSE '' END AS date_published,
               CASE WHEN doc_id % 3 IN (0, 1)
                 THEN 'OG Desc ' || CAST(doc_id AS VARCHAR) ELSE '' END AS excerpt,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS word_count,
               CAST(greatest(1, len(string_split_regex(trim(text), '\\s+')) // 200)
                 AS BIGINT) AS reading_time,
               CASE doc_id % 3 WHEN 0 THEN 'json_ld'
                 WHEN 1 THEN 'opengraph' ELSE 'title_tag' END AS title_src
        FROM documents
        ORDER BY doc_id
    """,
)
def html_article_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id", "text")
    return templated_extract(d, _article_page, make_article_extractor(), ARTICLE_SCHEMA).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# C16 depth: readability-grade main-text scoring (block link density)


def _make_readability_page():
    # a <locals> closure, so it pickles by value (see templated_extract)
    def _readability_page(doc_id: int, text: str) -> str:
        """Template a page with four top-level blocks of very different
        link densities (the shape trafilatura/readability must untangle,
        ref src/scraper_v2.py:412-429): pure-link nav, long low-link
        content, mixed sidebar (doc_id%3+1 related links), link-heavy
        footer. No inter-tag whitespace, so block text lengths are exact
        template arithmetic. ``text`` is html.escape'd so the parser's
        charref conversion yields the raw text back verbatim and the
        oracle's ``length(text) + 4`` arithmetic survives metacharacters
        in the corpus."""
        text = html_mod.escape(text)
        k = doc_id % 3 + 1
        side_links = "".join(f'<a href="/s{j}">Story {j}</a>' for j in range(k))
        return (
            "<html><body>"
            '<div class="nav"><a href="/n0">Nav Item 0</a><a href="/n1">Nav Item 1</a>'
            '<a href="/n2">Nav Item 2</a></div>'
            f'<div class="content"><p>{text}</p><a href="/more">more</a></div>'
            f'<div class="sidebar"><p>Related stories follow</p>{side_links}</div>'
            '<div class="footer"><a href="/terms">Terms</a><a href="/privacy">Privacy</a>'
            "<span>Copyright 2024 Acme</span></div>"
            "</body></html>"
        )
    return _readability_page


_readability_page = _make_readability_page()


BLOCK_SCHEMA = "doc_id long, block_id long, block string, text_len long, link_len long"


def make_block_profiler():
    """Per-block text/link character accounting: an event-driven walk
    that attributes every text node to its enclosing top-level <div>
    and separately tallies characters inside <a> — the two numbers a
    readability scorer needs. Closure for by-value cloudpickle."""

    def profile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd
        from html.parser import HTMLParser

        class BlockParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.blocks: list[dict] = []
                self._depth = 0
                self._cur: dict | None = None
                self._in_a = False

            def handle_starttag(self, tag, attrs):
                if tag == "div":
                    self._depth += 1
                    if self._depth == 1:
                        self._cur = {
                            "block_id": len(self.blocks),
                            "block": dict(attrs).get("class") or "",
                            "text_len": 0,
                            "link_len": 0,
                        }
                elif tag == "a" and self._cur is not None:
                    self._in_a = True

            def handle_endtag(self, tag):
                if tag == "div":
                    if self._depth == 1 and self._cur is not None:
                        self.blocks.append(self._cur)
                        self._cur = None
                        # an unclosed <a> must not leak link-char
                        # attribution into subsequent blocks
                        self._in_a = False
                    self._depth = max(0, self._depth - 1)
                elif tag == "a":
                    self._in_a = False

            def handle_data(self, data):
                if self._cur is not None:
                    self._cur["text_len"] += len(data)
                    if self._in_a:
                        self._cur["link_len"] += len(data)

        def parse_one(html: str) -> list[dict]:
            p = BlockParser()
            p.feed(html)
            return p.blocks

        for pdf in batches:
            frames = []
            for r in pdf.itertuples():
                blocks = parse_one(r.html)
                if blocks:
                    f = _pd.DataFrame(blocks)
                    f.insert(0, "doc_id", r.doc_id)
                    frames.append(f)
            if frames:
                out = _pd.concat(frames, ignore_index=True)
                out["block_id"] = out["block_id"].astype("int64")
                out["text_len"] = out["text_len"].astype("int64")
                out["link_len"] = out["link_len"].astype("int64")
                yield out

    return profile


@register(
    "html_main_text",
    tags=("html", "pandas_udf"),
    doc="C16 readability-grade main-text scoring (the trafilatura "
    "main-text role, ref src/scraper_v2.py:412-429): per top-level "
    "block, text chars vs link chars -> link density and a "
    "non-link-text score; the doc's main block is the score argmax. "
    "Density is floor-quantized to 4dp (round() tie semantics differ "
    "between engines); the score itself is exact integer arithmetic. "
    "Oracle regenerates every block's tallies from the template "
    "arithmetic.",
    oracle="""
        WITH blocks AS (
          SELECT doc_id, 0 AS block_id, 'nav' AS block,
                 30 AS text_len, 30 AS link_len
          FROM documents
          UNION ALL
          SELECT doc_id, 1, 'content', length(text) + 4, 4 FROM documents
          UNION ALL
          SELECT doc_id, 2, 'sidebar',
                 22 + 7 * (doc_id % 3 + 1), 7 * (doc_id % 3 + 1)
          FROM documents
          UNION ALL
          SELECT doc_id, 3, 'footer', 31, 12 FROM documents
        )
        SELECT doc_id, CAST(block_id AS BIGINT) AS block_id, block,
               CAST(text_len AS BIGINT) AS text_len,
               CAST(link_len AS BIGINT) AS link_len,
               floor(link_len::DOUBLE / text_len * 10000) / 10000 AS link_density,
               CAST(text_len - link_len AS BIGINT) AS main_score,
               CAST(row_number() OVER (
                 PARTITION BY doc_id
                 ORDER BY text_len - link_len DESC, block_id) = 1 AS BIGINT)
                 AS is_main
        FROM blocks
        ORDER BY doc_id, block_id
    """,
)
def html_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id", "text")
    blocks = templated_extract(d, _readability_page, make_block_profiler(), BLOCK_SCHEMA)
    score = (F.col("text_len") - F.col("link_len")).cast("long")
    w = Window.partitionBy("doc_id").orderBy(F.desc("main_score"), F.asc("block_id"))
    return (
        blocks.select(
            "doc_id",
            "block_id",
            "block",
            "text_len",
            "link_len",
            (
                F.floor(F.col("link_len").cast("double") / F.col("text_len") * 10000)
                / 10000
            ).alias("link_density"),
            score.alias("main_score"),
        )
        .withColumn(
            "is_main", (F.row_number().over(w) == 1).cast("long")
        )
        .orderBy("doc_id", "block_id")
    )


CLASS_JOBS_SCHEMA = "doc_id long, job_id string, title string, location string"


def make_class_pattern_job_extractor():
    """The reference's third job-extraction tier (BambooHR/Workable/
    iCIMS markup, src/ats_extractor.py:663-666): job ELEMENTS —
    div/li/tr whose class matches job|position|opening|listing
    (case-insensitive) or carrying a data-job-id attribute — with the
    title from the first heading inside the element and the location
    from a class~location child. Complements the table tier (header-
    sniffed) and the link tier (/job/ hrefs) in make_job_extractor.
    Closure-built so it pickles by value."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re as _re

        from html.parser import HTMLParser

        job_class = _re.compile(r"job|position|opening|listing", _re.I)
        loc_class = _re.compile(r"location", _re.I)

        class ClassJobParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.jobs: list[dict] = []
                self._depth = 0          # tag depth inside the open job element
                self._tag: str | None = None
                self._job: dict | None = None
                self._title: list[str] | None = None
                self._loc: list[str] | None = None

            def handle_starttag(self, tag, attrs):
                a = {k: v or "" for k, v in attrs}
                if self._job is None:
                    if tag in ("div", "li", "tr") and (
                        job_class.search(a.get("class", "")) or "data-job-id" in a
                    ):
                        self._job = {
                            "job_id": a.get("data-job-id"),
                            "title": None,
                            "location": None,
                        }
                        self._tag = tag
                        self._depth = 0
                    return
                self._depth += 1
                if tag in ("h1", "h2", "h3", "h4") and self._job["title"] is None:
                    self._title = []
                elif loc_class.search(a.get("class", "")) and self._job["location"] is None:
                    self._loc = []

            def handle_endtag(self, tag):
                if self._job is None:
                    return
                if self._title is not None and tag in ("h1", "h2", "h3", "h4"):
                    self._job["title"] = "".join(self._title).strip()
                    self._title = None
                elif self._loc is not None:
                    self._job["location"] = "".join(self._loc).strip()
                    self._loc = None
                if self._depth == 0 and tag == self._tag:
                    if self._job["title"]:  # an element with no heading is not a job
                        self.jobs.append(self._job)
                    self._job = None
                else:
                    self._depth = max(0, self._depth - 1)

            def handle_data(self, data):
                if self._title is not None:
                    self._title.append(data)
                elif self._loc is not None:
                    self._loc.append(data)

        cols = ["doc_id", "job_id", "title", "location"]
        for pdf in batches:
            out = []
            for doc_id, html in zip(pdf["doc_id"], pdf["html"]):
                p = ClassJobParser()
                p.feed(html)
                out += [(doc_id, j["job_id"], j["title"], j["location"]) for j in p.jobs]
            yield _typed_frame(out, cols, {"doc_id": "int64"})

    return extract


@register(
    "html_class_pattern_jobs",
    tags=("html", "source", "pandas_udf"),
    doc="S5/C18 class-pattern job tier (ref src/ats_extractor.py:"
    "663-666: find_all class_=re.compile('job|position|opening|"
    "listing') + data-job-id elements): listing pages templated from "
    "documents with three element variants (matching class + id, "
    "matching class only, NON-matching class rescued by data-job-id) "
    "plus a nav-item decoy that must NOT extract; the stdlib parser "
    "walks elements statefully and the oracle re-derives the planted "
    "fields from doc_id arithmetic.",
    oracle="""
        SELECT d.doc_id,
               CASE WHEN j0 % 4 = 1 THEN NULL
                    ELSE 'J' || d.doc_id || '-' || j0 END AS job_id,
               'Role ' || d.doc_id || '-' || j0 AS title,
               'City ' || (d.doc_id + j0) % 50 AS location
        FROM documents d, UNNEST(range(0, d.doc_id % 3 + 1)) AS t(j0)
        ORDER BY doc_id, title
    """,
)
def html_class_pattern_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def listing_page(doc_id: int) -> str:
        blocks = ['<div class="nav-item"><h3>Decoy</h3></div>']
        for j0 in range(doc_id % 3 + 1):
            cls, with_id = [
                ("job-listing", True),   # matching class + id
                ("position-card", False),  # matching class only
                ("row", True),           # rescued by data-job-id
                ("opening-row", True),
            ][j0 % 4]
            idattr = f' data-job-id="J{doc_id}-{j0}"' if with_id else ""
            blocks.append(
                f'<li class="{cls}"{idattr}><h3>Role {doc_id}-{j0}</h3>'
                f'<span class="location">City {(doc_id + j0) % 50}</span></li>'
            )
        return "<html><body><ul>" + "".join(blocks) + "</ul></body></html>"

    return templated_extract(
        d, listing_page, make_class_pattern_job_extractor(), CLASS_JOBS_SCHEMA
    ).orderBy("doc_id", "title")


NAV_SCHEMA = "doc_id long, region string, pos long, text string, href string, meta string"


def make_nav_extractor():
    """Navigation-structure extraction as a closure (pickled by value
    for foreign-cwd workers). Mirrors extract_navigation_structure
    (ref src/scraper_v2.py:905-947): anchors inside <nav>/<header>
    elements become main_nav rows (meta = space-joined classes),
    anchors inside the FIRST <footer> become footer rows (meta = the
    reference's category, the stripped text lowercased), anchors
    inside the first breadcrumb-classed <nav>/<ol>/<ul> become
    breadcrumbs rows (meta null); hrefs resolve against the page base
    with urljoin, matching the reference exactly; anchors outside all
    three regions are ignored.

    Documented deviation (innermost-region-wins): each anchor is
    emitted for exactly ONE region — the innermost active one at the
    anchor (crumb > footer > nav precedence). The reference's
    overlapping ``find_all(['nav','header'])`` / footer / breadcrumb
    walks would re-emit an anchor under EVERY enclosing region — e.g.
    a footer nested inside an unclosed <nav/> would list the footer's
    anchors under main_nav too. One-region-per-anchor is the
    deliberate choice here (same spirit as make_team_extractor's
    each-card-once dedup deviation)."""

    def extract(batches):
        from html.parser import HTMLParser
        from urllib.parse import urljoin

        class NavParser(HTMLParser):
            # Region membership is tracked with a stack of
            # (tag, region) entries so a close tag only ends the
            # region its own start tag opened: a plain <ul> inside a
            # breadcrumb container, or a breadcrumb-classed <nav>
            # inside an open <nav>, no longer decrements the wrong
            # counter (BeautifulSoup scoping parity).
            def __init__(self) -> None:
                super().__init__()
                self.nav_depth = 0
                self.footer_depth = 0
                self.crumb_depth = 0
                self.footers_seen = 0
                self.crumb_container_taken = False
                self.region_stack: list[tuple[str, str | None]] = []
                self.in_a: dict | None = None
                self.rows: list[tuple[str, str, str, list[str]]] = []

            _REGION_TAGS = ("nav", "header", "footer", "ol", "ul")

            def handle_starttag(self, tag, attrs):
                a = {k: v or "" for k, v in attrs}
                cls = a.get("class", "")
                if tag in self._REGION_TAGS:
                    region: str | None = None
                    if (
                        tag in ("nav", "ol", "ul")
                        and "breadcrumb" in cls.lower()
                    ):
                        if not self.crumb_container_taken and not self.crumb_depth:
                            region = "crumb"
                            self.crumb_depth += 1
                    elif tag in ("nav", "header"):
                        region = "nav"
                        self.nav_depth += 1
                    elif tag == "footer":
                        self.footers_seen += 1
                        if self.footers_seen == 1:
                            region = "footer"
                            self.footer_depth += 1
                    self.region_stack.append((tag, region))
                    return
                if tag == "a" and "href" in a:
                    # lxml implies </a> at a new <a> (anchors can't
                    # nest), so an open anchor emits before this one
                    self._flush_a()
                    region = (
                        "breadcrumbs"
                        if self.crumb_depth
                        else "footer"
                        if self.footer_depth
                        else "main_nav"
                        if self.nav_depth
                        else None
                    )
                    if region:
                        self.in_a = {
                            "region": region,
                            "href": a["href"],
                            "classes": a.get("class", "").split(),
                            "text": [],
                        }

            def handle_data(self, data):
                if self.in_a is not None:
                    self.in_a["text"].append(data)

            def _flush_a(self):
                if self.in_a is not None:
                    cur = self.in_a
                    self.rows.append(
                        (cur["region"], "".join(cur["text"]).strip(), cur["href"], cur["classes"])
                    )
                    self.in_a = None

            def handle_endtag(self, tag):
                if tag == "a":
                    self._flush_a()
                elif tag in self._REGION_TAGS:
                    # pop the nearest matching open tag; only the
                    # region IT opened (if any) is decremented. An
                    # end tag with NO matching open tag is dropped
                    # entirely (lxml discards unmatched closes), so
                    # it must not flush an open anchor either — a
                    # stray </ul> inside an anchor would otherwise
                    # truncate the anchor's text
                    for i in range(len(self.region_stack) - 1, -1, -1):
                        open_tag, region = self.region_stack[i]
                        if open_tag != tag:
                            continue
                        # a matched region close auto-closes an anchor
                        # it still contains (lxml parity for </a>-less
                        # anchors)
                        self._flush_a()
                        del self.region_stack[i]
                        if region == "nav":
                            self.nav_depth -= 1
                        elif region == "footer":
                            self.footer_depth -= 1
                        elif region == "crumb":
                            self.crumb_depth -= 1
                            if not self.crumb_depth:
                                self.crumb_container_taken = True
                        break

            def handle_startendtag(self, tag, attrs):
                # lxml parity: HTML5 ignores the "/" on a non-void
                # start tag, so <nav/> / <ol class=breadcrumb/> OPEN
                # their element (region stays active until its real or
                # implied close) — calling handle_endtag here would
                # both mislabel the region and burn the one-breadcrumb-
                # container budget on an element lxml keeps open.
                # Void tags never push region state, so start-only is
                # correct for them too.
                self.handle_starttag(tag, attrs)

        def walk(doc_id: int, base: str, html: str):
            p = NavParser()
            p.feed(html)
            p.close()
            p._flush_a()  # document end auto-closes an open anchor
            counters: dict[str, int] = {}
            for region, text, href, classes in p.rows:
                counters[region] = counters.get(region, 0) + 1
                meta = (
                    " ".join(classes)
                    if region == "main_nav"
                    else text.lower()
                    if region == "footer"
                    else None
                )
                yield {
                    "doc_id": doc_id,
                    "region": region,
                    "pos": counters[region],
                    "text": text,
                    "href": urljoin(base, href),
                    "meta": meta,
                }

        for pdf in batches:
            rows = [
                r
                for doc_id, base_url, html in zip(pdf["doc_id"], pdf["base_url"], pdf["html"])
                for r in walk(int(doc_id), base_url, html)
            ]
            yield _typed_frame(
                rows,
                ["doc_id", "region", "pos", "text", "href", "meta"],
                {"doc_id": "int64", "pos": "int64"},
            )

    return extract


@register(
    "nav_structure_extract",
    tags=("html", "extract", "pandas_udf"),
    doc="Navigation-structure extraction (ref src/scraper_v2.py:"
    "905-947): main-nav anchors from every <nav>/<header> (meta = the "
    "anchor's classes), footer anchors from the FIRST <footer> (meta "
    "= the reference's category, lowercased text), breadcrumb anchors "
    "from the first breadcrumb-classed container, all hrefs resolved "
    "with urljoin against the page base — templated pages carry "
    "root-relative, page-relative, and absolute hrefs plus an "
    "anchor after a self-closing <nav/>, so the hash pins the region "
    "scoping AND the urljoin semantics (page-relative 'news' must "
    "resolve to /products/news, not /news). Breadcrumbs rotate off "
    "every 4th page and carry a plain nested <ul> whose close must "
    "not end the crumb region (a region stack, not a counter); "
    "HTML5/lxml ignore the '/' on a non-void start tag, so the "
    "reference's BeautifulSoup"
    "(html, 'lxml') keeps that <nav/> OPEN and the anchor after it "
    "IS main_nav (pos 4) — the slash-ignored parity, driver-checked.",
    oracle="""
        WITH d AS (
          SELECT doc_id, 'https://co' || CAST(doc_id AS VARCHAR) || '.com' AS origin
          FROM documents
        )
        SELECT doc_id, region, pos, text, href, meta FROM (
          SELECT doc_id, 'main_nav' AS region, CAST(1 AS BIGINT) AS pos,
                 'About' AS text, origin || '/about' AS href, '' AS meta FROM d
          UNION ALL SELECT doc_id, 'main_nav', 2, 'Jobs',
                 origin || '/jobs', 'cta primary' FROM d
          UNION ALL SELECT doc_id, 'main_nav', 3, 'News',
                 origin || '/products/news', '' FROM d
          UNION ALL SELECT doc_id, 'main_nav', 4, 'after nav',
                 origin || '/ignored', '' FROM d
          UNION ALL SELECT doc_id, 'footer', 1, 'Privacy Policy',
                 origin || '/privacy', 'privacy policy' FROM d
          UNION ALL SELECT doc_id, 'footer', 2, 'Terms',
                 origin || '/terms', 'terms' FROM d
          UNION ALL SELECT doc_id, 'breadcrumbs', 1, 'Home',
                 origin || '/', CAST(NULL AS VARCHAR) FROM d WHERE doc_id % 4 <> 0
          UNION ALL SELECT doc_id, 'breadcrumbs', 2, 'Docs',
                 origin || '/products/docs', CAST(NULL AS VARCHAR) FROM d WHERE doc_id % 4 <> 0
          UNION ALL SELECT doc_id, 'breadcrumbs', 3, 'Products',
                 origin || '/products', CAST(NULL AS VARCHAR) FROM d WHERE doc_id % 4 <> 0
        )
        ORDER BY doc_id, region, pos
    """,
)
def nav_structure_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def nav_page(doc_id: int) -> str:
        co = f"co{doc_id}"
        # the plain nested <ul> inside the breadcrumb container is
        # the stack-bookkeeping shape: its </ul> must NOT end
        # the crumb region, so Docs AND the Products crumb after
        # it stay breadcrumbs (ref scraper_v2.py:938-947 finds all
        # container descendants)
        crumb = (
            f'<ol class="crumbs breadcrumb-path"><li><a href="/">Home</a></li>'
            f'<li><ul class="sub"><li><a href="/products/docs">Docs</a></li></ul></li>'
            f'<li><a href="/products">Products</a></li></ol>'
            if doc_id % 4 != 0
            else ""
        )
        return (
            "<html><body>"
            f'<nav><a href="/about">About</a>'
            f'<a class="cta primary" href="https://{co}.com/jobs">Jobs</a></nav>'
            f'<header><a href="news">News</a></header>'
            f"{crumb}"
            # self-closing region tag: HTML5/lxml ignore the "/"
            # on a non-void start tag, so this nav stays OPEN and
            # the anchor below is main_nav pos 4 (lxml parity —
            # treating <nav/> as closed dropped the row)
            "<nav/>"
            f'<p>Visit <a href="/ignored">after nav</a>.</p>'
            f'<footer><a href="/privacy">Privacy Policy</a>'
            f'<a href="/terms">Terms</a></footer>'
            "</body></html>"
        )

    return templated_extract(d, nav_page, make_nav_extractor(), NAV_SCHEMA, base_url=True).orderBy(
        "doc_id", "region", "pos"
    )


LINKS_SCHEMA = (
    "doc_id long, pos long, href string, full_url string, text string, "
    "title string, category string, is_external long, is_same_domain long"
)

_LINK_CATEGORIES = (
    ("careers", ("/career", "/job", "/join")),
    ("about", ("/about", "/company")),
    ("blog", ("/blog", "/news", "/post")),
    ("team", ("/team", "/leadership")),
    ("product", ("/product", "/platform")),
    ("pricing", ("/pricing", "/plans")),
    ("contact", ("/contact",)),
)


def make_link_inventory_extractor():
    """Full-page link inventory as a closure (pickled by value).
    Mirrors extract_all_links (ref src/scraper_v2.py:182-228): every
    <a href>, href resolved with urljoin, domain flags from the
    resolved netloc (netloc-less hrefs are same-domain and not
    external, the reference's defaults), and the 7-rung category
    ladder applied to the RAW href lowercased, first match wins, in
    the reference's exact order."""
    cats = _LINK_CATEGORIES

    def extract(batches):
        from html.parser import HTMLParser
        from urllib.parse import urljoin, urlparse

        class LinkParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.cur: dict | None = None
                self.links: list[dict] = []

            def handle_starttag(self, tag, attrs):
                if tag == "a":
                    a = {k: v or "" for k, v in attrs}
                    if "href" in a:
                        self.cur = {"href": a["href"], "title": a.get("title", ""), "text": []}

            def handle_data(self, data):
                if self.cur is not None:
                    self.cur["text"].append(data)

            def handle_endtag(self, tag):
                if tag == "a" and self.cur is not None:
                    self.links.append(self.cur)
                    self.cur = None

        def walk(doc_id: int, base: str, html: str):
            base_netloc = urlparse(base).netloc
            p = LinkParser()
            p.feed(html)
            for pos, ln in enumerate(p.links, start=1):
                href = ln["href"]
                full = urljoin(base, href)
                netloc = urlparse(full).netloc
                low = href.lower()
                category = next(
                    (c for c, kws in cats if any(k in low for k in kws)), "other"
                )
                yield {
                    "doc_id": doc_id,
                    "pos": pos,
                    "href": href,
                    "full_url": full,
                    "text": "".join(ln["text"]).strip(),
                    "title": ln["title"],
                    "category": category,
                    "is_external": int(netloc != base_netloc) if netloc else 0,
                    "is_same_domain": int(netloc == base_netloc) if netloc else 1,
                }

        cols = [
            "doc_id", "pos", "href", "full_url", "text", "title",
            "category", "is_external", "is_same_domain",
        ]
        ints = dict.fromkeys(("doc_id", "pos", "is_external", "is_same_domain"), "int64")
        for pdf in batches:
            rows = [
                r
                for doc_id, base_url, html in zip(pdf["doc_id"], pdf["base_url"], pdf["html"])
                for r in walk(int(doc_id), base_url, html)
            ]
            yield _typed_frame(rows, cols, ints)

    return extract


@register(
    "html_link_inventory",
    tags=("html", "extract", "pandas_udf"),
    doc="Full link inventory (ref src/scraper_v2.py:182-228): every "
    "anchor with urljoin-resolved full_url, the reference's "
    "netloc-based is_external/is_same_domain flags (netloc-less "
    "hrefs default same-domain, not-external), and its 7-rung "
    "first-match category ladder over the RAW lowercased href — "
    "templated pages carry a root-relative careers link, an external "
    "about link (category applies regardless of domain), a "
    "page-relative docs link (category other, joins under "
    "/products/), and an every-other-page pricing link, so the hash "
    "pins the ladder order, both flags, and both urljoin modes.",
    oracle="""
        WITH d AS (
          SELECT doc_id,
                 'https://co' || CAST(doc_id AS VARCHAR) || '.com' AS origin,
                 'partner' || CAST(doc_id AS VARCHAR) || '.org' AS ext
          FROM documents
        )
        SELECT doc_id, pos, href, full_url, text, title, category,
               is_external, is_same_domain
        FROM (
          SELECT doc_id, CAST(1 AS BIGINT) AS pos, '/careers/eng' AS href,
                 origin || '/careers/eng' AS full_url, 'Jobs at Co' AS text,
                 'Open roles' AS title, 'careers' AS category,
                 CAST(0 AS BIGINT) AS is_external, CAST(1 AS BIGINT) AS is_same_domain
          FROM d
          UNION ALL
          SELECT doc_id, 2, 'https://' || ext || '/about',
                 'https://' || ext || '/about', 'Partner', '', 'about', 1, 0 FROM d
          UNION ALL
          SELECT doc_id, 3, 'docs/guide', origin || '/products/docs/guide',
                 'Docs', '', 'other', 0, 1 FROM d
          UNION ALL
          SELECT doc_id, 4, '/pricing/plans', origin || '/pricing/plans',
                 'Plans', '', 'pricing', 0, 1 FROM d WHERE doc_id % 2 = 0
        )
        ORDER BY doc_id, pos
    """,
)
def html_link_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def link_page(doc_id: int) -> str:
        extra = (
            '<a href="/pricing/plans">Plans</a>' if doc_id % 2 == 0 else ""
        )
        return (
            "<html><body>"
            f'<a href="/careers/eng" title="Open roles">Jobs at Co</a>'
            f'<a href="https://partner{doc_id}.org/about">Partner</a>'
            f'<a href="docs/guide">Docs</a>'
            f"{extra}"
            "</body></html>"
        )

    return templated_extract(
        d, link_page, make_link_inventory_extractor(), LINKS_SCHEMA, base_url=True
    ).orderBy("doc_id", "pos")


TABLES_SCHEMA = (
    "doc_id long, tbl long, caption string, kind string, r long, c long, value string"
)


def make_table_extractor():
    """Table extraction as a closure (pickled by value). Mirrors
    extract_all_tables (ref src/scraper_v2.py:299-350): caption text;
    headers from <thead> th/td, else the FIRST row serves as headers
    and is skipped from the data rows; data rows from <tbody> when
    present, else the whole table; tables with zero data rows are
    dropped entirely. Output is exploded to scalar (kind/r/c/value)
    rows because the driver's canonicalizer cannot sort list-valued
    cells (same shape rationale as label_centroids_udaf)."""

    def extract(batches):
        from html.parser import HTMLParser

        class TableParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.tables: list[dict] = []
                self.t: dict | None = None
                self.in_thead = False
                self.in_tbody = False
                self.in_caption = False
                self.tr: list[str] | None = None
                self.cell: list[str] | None = None

            def handle_starttag(self, tag, attrs):
                if tag == "table":
                    self.t = {"caption": [], "thead": [], "body_rows": [], "all_rows": [],
                              "has_thead": False, "has_tbody": False}
                elif self.t is None:
                    return
                elif tag == "caption":
                    self.in_caption = True
                elif tag == "thead":
                    self.in_thead = True
                    self.t["has_thead"] = True
                elif tag == "tbody":
                    self.in_tbody = True
                    self.t["has_tbody"] = True
                elif tag == "tr":
                    self.tr = []
                elif tag in ("td", "th") and self.tr is not None:
                    self.cell = []

            def handle_data(self, data):
                if self.cell is not None:
                    self.cell.append(data)
                elif self.in_caption and self.t is not None:
                    self.t["caption"].append(data)

            def handle_endtag(self, tag):
                if self.t is None:
                    return
                if tag == "caption":
                    self.in_caption = False
                elif tag in ("td", "th") and self.cell is not None:
                    self.tr.append("".join(self.cell).strip())
                    self.cell = None
                elif tag == "tr" and self.tr is not None:
                    if self.in_thead:
                        self.t["thead"].extend(self.tr)
                    else:
                        (self.t["body_rows"] if self.in_tbody else self.t["all_rows"]).append(self.tr)
                    self.tr = None
                elif tag == "thead":
                    self.in_thead = False
                elif tag == "tbody":
                    self.in_tbody = False
                elif tag == "table":
                    self.tables.append(self.t)
                    self.t = None

        def walk(doc_id: int, html: str):
            p = TableParser()
            p.feed(html)
            emitted = 0
            for t in p.tables:
                if t["has_thead"]:
                    headers = t["thead"]
                    rows = t["body_rows"] if t["has_tbody"] else t["all_rows"]
                else:
                    # no thead: the first row anywhere serves as headers
                    # and is skipped from the data — the reference skips
                    # it whether or not a tbody wraps it (scraper_v2.py
                    # :335-345 compares tr == first_row during iteration)
                    source = t["body_rows"] if t["has_tbody"] else t["all_rows"]
                    headers = source[0] if source else []
                    rows = source[1:]
                rows = [r for r in rows if r]
                if not rows:
                    continue
                emitted += 1
                caption = "".join(t["caption"]).strip()
                for c, h in enumerate(headers, start=1):
                    yield (doc_id, emitted, caption, "header", 0, c, h)
                for r, row in enumerate(rows, start=1):
                    for c, v in enumerate(row, start=1):
                        yield (doc_id, emitted, caption, "cell", r, c, v)

        cols = ["doc_id", "tbl", "caption", "kind", "r", "c", "value"]
        for pdf in batches:
            rows = [
                r
                for doc_id, html in zip(pdf["doc_id"], pdf["html"])
                for r in walk(int(doc_id), html)
            ]
            yield _typed_frame(rows, cols, dict.fromkeys(("doc_id", "tbl", "r", "c"), "int64"))

    return extract


@register(
    "html_table_extract",
    bench=True,  # regression tracking for the Arrow-batched parser tier
    tags=("html", "extract", "pandas_udf"),
    doc="Table extraction (ref src/scraper_v2.py:299-350): caption, "
    "headers from <thead> OR first-row-as-headers (which is then "
    "skipped from the data), rows from <tbody> when present, "
    "zero-row tables dropped — templated pages carry one "
    "thead+tbody+caption table, a headerless-markup table every "
    "doc_id%3!=1 page (pinning the first-row fallback AND the skip "
    "rule), and an empty decoy table that must vanish.",
    oracle="""
        WITH d AS (SELECT doc_id FROM documents),
        t1 AS (
          SELECT doc_id, CAST(1 AS BIGINT) AS tbl,
                 'Pricing ' || CAST(doc_id AS VARCHAR) AS caption
          FROM d
        )
        SELECT doc_id, tbl, caption, kind, r, c, value FROM (
          SELECT doc_id, tbl, caption, 'header' AS kind,
                 CAST(0 AS BIGINT) AS r, CAST(1 AS BIGINT) AS c, 'Product' AS value FROM t1
          UNION ALL SELECT doc_id, tbl, caption, 'header', 0, 2, 'Price' FROM t1
          UNION ALL SELECT doc_id, tbl, caption, 'cell', 1, 1, 'Basic' FROM t1
          UNION ALL SELECT doc_id, tbl, caption, 'cell', 1, 2,
                 '$' || CAST(doc_id AS VARCHAR) FROM t1
          UNION ALL SELECT doc_id, tbl, caption, 'cell', 2, 1, 'Pro' FROM t1
          UNION ALL SELECT doc_id, tbl, caption, 'cell', 2, 2,
                 '$' || CAST(doc_id * 2 AS VARCHAR) FROM t1
          UNION ALL SELECT doc_id, 2, '', 'header', 0, 1, 'Region' FROM d WHERE doc_id % 3 <> 1
          UNION ALL SELECT doc_id, 2, '', 'header', 0, 2, 'Count' FROM d WHERE doc_id % 3 <> 1
          UNION ALL SELECT doc_id, 2, '', 'cell', 1, 1, 'EU' FROM d WHERE doc_id % 3 <> 1
          UNION ALL SELECT doc_id, 2, '', 'cell', 1, 2,
                 CAST(doc_id % 7 AS VARCHAR) FROM d WHERE doc_id % 3 <> 1
        )
        ORDER BY doc_id, tbl, kind, r, c
    """,
)
def html_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def table_page(doc_id: int) -> str:
        second = (
            "<table><tr><th>Region</th><th>Count</th></tr>"
            f"<tr><td>EU</td><td>{doc_id % 7}</td></tr></table>"
            if doc_id % 3 != 1
            else ""
        )
        return (
            "<html><body>"
            f"<table><caption>Pricing {doc_id}</caption>"
            "<thead><tr><th>Product</th><th>Price</th></tr></thead>"
            f"<tbody><tr><td>Basic</td><td>${doc_id}</td></tr>"
            f"<tr><td>Pro</td><td>${doc_id * 2}</td></tr></tbody></table>"
            f"{second}"
            '<table id="empty"><caption>decoy</caption></table>'
            "</body></html>"
        )

    return templated_extract(d, table_page, make_table_extractor(), TABLES_SCHEMA).orderBy(
        "doc_id", "tbl", "kind", "r", "c"
    )


FORMS_SCHEMA = (
    "doc_id long, form_pos long, action string, method string, field_pos long, "
    "ftype string, name string, placeholder string, label string, required long"
)


def make_form_extractor():
    """Form extraction as a closure (pickled by value). Mirrors
    extract_all_forms (ref src/scraper_v2.py:259-296): per form the
    raw action ('' default — the reference does NOT urljoin it) and
    method (default GET, uppercased); per field (input/textarea/
    select) the type (input's type attr, else the tag name), name,
    placeholder, required flag, and the text of a <label for=field-id>
    found ANYWHERE in the page. Forms with no fields still emit (one
    null-field row, field_pos 0) — the reference appends them
    unconditionally."""

    def extract(batches):
        from html.parser import HTMLParser

        class FormParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.forms: list[dict] = []
                self.f: dict | None = None
                self.label_for: str | None = None
                self.label_text: list[str] = []
                self.labels: dict[str, str] = {}

            def handle_starttag(self, tag, attrs):
                a = {k: v or "" for k, v in attrs}
                if tag == "form":
                    self.f = {
                        "action": a.get("action", ""),
                        "method": a.get("method", "GET").upper(),
                        "fields": [],
                    }
                elif tag == "label":
                    self.label_for = a.get("for")
                    self.label_text = []
                elif tag in ("input", "textarea", "select") and self.f is not None:
                    self.f["fields"].append(
                        {
                            "type": a.get("type", tag),
                            "name": a.get("name", ""),
                            "id": a.get("id", ""),
                            "placeholder": a.get("placeholder", ""),
                            "required": int("required" in a),
                        }
                    )

            def handle_data(self, data):
                if self.label_for is not None:
                    self.label_text.append(data)

            def handle_endtag(self, tag):
                if tag == "form" and self.f is not None:
                    self.forms.append(self.f)
                    self.f = None
                elif tag == "label" and self.label_for is not None:
                    self.labels[self.label_for] = "".join(self.label_text).strip()
                    self.label_for = None

            def handle_startendtag(self, tag, attrs):
                self.handle_starttag(tag, attrs)

        def walk(doc_id: int, html: str):
            p = FormParser()
            p.feed(html)
            for form_pos, f in enumerate(p.forms, start=1):
                base = {
                    "doc_id": doc_id,
                    "form_pos": form_pos,
                    "action": f["action"],
                    "method": f["method"],
                }
                if not f["fields"]:
                    yield {**base, "field_pos": 0, "ftype": None, "name": None,
                           "placeholder": None, "label": None, "required": None}
                    continue
                for field_pos, fl in enumerate(f["fields"], start=1):
                    yield {
                        **base,
                        "field_pos": field_pos,
                        "ftype": fl["type"],
                        "name": fl["name"],
                        "placeholder": fl["placeholder"],
                        "label": p.labels.get(fl["id"], ""),
                        "required": fl["required"],
                    }

        cols = [
            "doc_id", "form_pos", "action", "method", "field_pos",
            "ftype", "name", "placeholder", "label", "required",
        ]
        for pdf in batches:
            rows = [
                r
                for doc_id, html in zip(pdf["doc_id"], pdf["html"])
                for r in walk(int(doc_id), html)
            ]
            # required stays object: a field-less form's row holds None
            ints = dict.fromkeys(("doc_id", "form_pos", "field_pos"), "int64")
            yield _typed_frame(rows, cols, ints)

    return extract


@register(
    "html_form_extract",
    tags=("html", "extract", "pandas_udf"),
    doc="Form extraction (ref src/scraper_v2.py:259-296): raw action "
    "(never urljoined — faithful to the reference), method default "
    "GET uppercased, field type from the type attr or the tag name "
    "(textarea/select), required flag, and label text looked up by "
    "for=id anywhere in the page; a field-less decoy form still "
    "emits (the reference appends unconditionally). Method rotates "
    "post/omitted by doc_id%2 to pin the default + uppercase.",
    oracle="""
        WITH d AS (
          SELECT doc_id,
                 '/subscribe' || CAST(doc_id % 5 AS VARCHAR) AS act,
                 CASE WHEN doc_id % 2 = 0 THEN 'POST' ELSE 'GET' END AS meth
          FROM documents
        )
        SELECT doc_id, form_pos, action, method, field_pos, ftype, name,
               placeholder, label, required
        FROM (
          SELECT doc_id, CAST(1 AS BIGINT) AS form_pos, act AS action,
                 meth AS method, CAST(1 AS BIGINT) AS field_pos,
                 'email' AS ftype, 'email' AS name,
                 'you@example.com' AS placeholder, 'Email address' AS label,
                 CAST(0 AS BIGINT) AS required
          FROM d
          UNION ALL SELECT doc_id, 1, act, meth, 2, 'select', 'topic', '', '', 0 FROM d
          UNION ALL SELECT doc_id, 1, act, meth, 3, 'textarea', 'msg', '', '', 1 FROM d
          UNION ALL SELECT doc_id, 2, '', 'GET', 0, CAST(NULL AS VARCHAR),
                 CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                 CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT) FROM d
        )
        ORDER BY doc_id, form_pos, field_pos
    """,
)
def html_form_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def form_page(doc_id: int) -> str:
        method_attr = ' method="post"' if doc_id % 2 == 0 else ""
        return (
            "<html><body>"
            f'<label for="fld{doc_id}">Email address</label>'
            f'<form action="/subscribe{doc_id % 5}"{method_attr}>'
            f'<input type="email" name="email" id="fld{doc_id}"'
            ' placeholder="you@example.com"/>'
            '<select name="topic"><option>a</option></select>'
            '<textarea name="msg" required></textarea>'
            "</form>"
            "<form></form>"
            "</body></html>"
        )

    return templated_extract(d, form_page, make_form_extractor(), FORMS_SCHEMA).orderBy(
        "doc_id", "form_pos", "field_pos"
    )


IMAGES_SCHEMA = (
    "doc_id long, pos long, src string, full_url string, alt string, is_logo long"
)


def make_image_inventory_extractor():
    """Image inventory as a closure (pickled by value). Mirrors
    extract_all_images (ref src/scraper_v2.py:230-256): src resolved
    through the src -> data-src -> data-lazy-src fallback chain,
    sourceless imgs skipped entirely, urljoin against the page base,
    and is_logo when alt+classes (lowercased, space-joined) contain
    logo/brand/company."""

    def extract(batches):
        from html.parser import HTMLParser
        from urllib.parse import urljoin

        class ImgParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.imgs: list[dict] = []

            def handle_starttag(self, tag, attrs):
                if tag == "img":
                    a = {k: v or "" for k, v in attrs}
                    src = a.get("src") or a.get("data-src") or a.get("data-lazy-src")
                    if not src:
                        return
                    hay = (a.get("alt", "") + " " + a.get("class", "")).lower()
                    self.imgs.append(
                        {
                            "src": src,
                            "alt": a.get("alt", ""),
                            "is_logo": int(
                                any(k in hay for k in ("logo", "brand", "company"))
                            ),
                        }
                    )

            def handle_startendtag(self, tag, attrs):
                self.handle_starttag(tag, attrs)

        def walk(doc_id: int, base: str, html: str):
            p = ImgParser()
            p.feed(html)
            for pos, im in enumerate(p.imgs, start=1):
                yield {
                    "doc_id": doc_id,
                    "pos": pos,
                    "src": im["src"],
                    "full_url": urljoin(base, im["src"]),
                    "alt": im["alt"],
                    "is_logo": im["is_logo"],
                }

        cols = ["doc_id", "pos", "src", "full_url", "alt", "is_logo"]
        for pdf in batches:
            rows = [
                r
                for doc_id, base_url, html in zip(pdf["doc_id"], pdf["base_url"], pdf["html"])
                for r in walk(int(doc_id), base_url, html)
            ]
            yield _typed_frame(rows, cols, dict.fromkeys(("doc_id", "pos", "is_logo"), "int64"))

    return extract


@register(
    "html_image_inventory",
    tags=("html", "extract", "pandas_udf"),
    doc="Image inventory (ref src/scraper_v2.py:230-256): the "
    "src -> data-src -> data-lazy-src fallback chain (src wins when "
    "both present — pinned by an every-other-page both-attrs img), "
    "sourceless imgs skipped, urljoin resolution (root-relative AND "
    "page-relative templated), is_logo from logo/brand/company over "
    "lowercased alt+classes (one match via alt, one via class).",
    oracle="""
        WITH d AS (
          SELECT doc_id,
                 'https://co' || CAST(doc_id AS VARCHAR) || '.com' AS origin
          FROM documents
        )
        SELECT doc_id, pos, src, full_url, alt, is_logo FROM (
          SELECT doc_id, CAST(1 AS BIGINT) AS pos,
                 '/img/hero' || CAST(doc_id AS VARCHAR) || '.png' AS src,
                 origin || '/img/hero' || CAST(doc_id AS VARCHAR) || '.png' AS full_url,
                 'Team at work' AS alt, CAST(0 AS BIGINT) AS is_logo FROM d
          UNION ALL SELECT doc_id, 2,
                 '/cdn/logo' || CAST(doc_id AS VARCHAR) || '.svg',
                 origin || '/cdn/logo' || CAST(doc_id AS VARCHAR) || '.svg',
                 'Acme logo', 1 FROM d
          UNION ALL SELECT doc_id, 3, 'assets/mark.png',
                 origin || '/products/assets/mark.png', '', 1 FROM d
          UNION ALL SELECT doc_id, 4,
                 '/a' || CAST(doc_id AS VARCHAR) || '.png',
                 origin || '/a' || CAST(doc_id AS VARCHAR) || '.png',
                 'x', 0 FROM d WHERE doc_id % 2 = 0
        )
        ORDER BY doc_id, pos
    """,
)
def html_image_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def image_page(doc_id: int) -> str:
        both = (
            f'<img src="/a{doc_id}.png" data-src="/b.png" alt="x"/>'
            if doc_id % 2 == 0
            else ""
        )
        return (
            "<html><body>"
            f'<img src="/img/hero{doc_id}.png" alt="Team at work"/>'
            f'<img data-src="/cdn/logo{doc_id}.svg" alt="Acme logo"/>'
            '<img data-lazy-src="assets/mark.png" class="brand-mark nav"/>'
            '<img alt="no source"/>'
            f"{both}"
            "</body></html>"
        )

    return templated_extract(
        d, image_page, make_image_inventory_extractor(), IMAGES_SCHEMA, base_url=True
    ).orderBy("doc_id", "pos")


TEXT_STRUCT_SCHEMA = "doc_id long, kind string, pos long, attr string, text string"


def make_text_structure_extractor():
    """Structured text-content extraction as a closure (pickled by
    value). Mirrors extract_all_text_content (ref src/scraper_v2.py:
    412-466) minus the trafilatura full_text (html_main_text owns
    that role): headings collected BY LEVEL FIRST (all h1s before any
    h2 — the reference loops levels outermost, so document order is
    NOT preserved across levels; pinned by a template whose h2
    precedes its h1), paragraphs gated at len>10 after strip, list
    items with their container type, blockquotes stripped, and
    code/pre text UNSTRIPPED (the one get_text() call without
    strip=True in the function)."""

    def extract(batches):
        from html.parser import HTMLParser

        GRAB = {"p", "blockquote", "code", "pre", "li"}

        class TextParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.headings: dict[int, list[str]] = {i: [] for i in range(1, 7)}
                self.paragraphs: list[str] = []
                self.lists: list[tuple[str, list[str]]] = []
                self.quotes: list[str] = []
                self.codes: list[str] = []
                self.stack: list[tuple[str, list[str]]] = []

            def handle_starttag(self, tag, attrs):
                if tag in GRAB or (len(tag) == 2 and tag[0] == "h" and tag[1].isdigit()):
                    self.stack.append((tag, []))
                elif tag in ("ul", "ol"):
                    self.lists.append((tag, []))
                    self.stack.append((tag, []))

            def handle_data(self, data):
                for _, buf in self.stack:
                    buf.append(data)

            def handle_endtag(self, tag):
                if not self.stack or self.stack[-1][0] != tag:
                    return
                _, buf = self.stack.pop()
                text = "".join(buf)
                if tag[0] == "h" and len(tag) == 2 and tag[1].isdigit():
                    self.headings[int(tag[1])].append(text.strip())
                elif tag == "p":
                    s = text.strip()
                    if s and len(s) > 10:
                        self.paragraphs.append(s)
                elif tag == "li":
                    if self.lists:
                        self.lists[-1][1].append(text.strip())
                elif tag == "blockquote":
                    self.quotes.append(text.strip())
                elif tag in ("code", "pre"):
                    self.codes.append(text)

        def walk(doc_id: int, html: str):
            p = TextParser()
            p.feed(html)
            pos = 0
            for level in range(1, 7):
                for h in p.headings[level]:
                    pos += 1
                    yield {"doc_id": doc_id, "kind": "heading", "pos": pos,
                           "attr": f"h{level}", "text": h}
            for i, t in enumerate(p.paragraphs, start=1):
                yield {"doc_id": doc_id, "kind": "paragraph", "pos": i, "attr": "", "text": t}
            pos = 0
            for li_idx, (ltype, items) in enumerate(p.lists, start=1):
                if not items:
                    continue
                for it in items:
                    pos += 1
                    yield {"doc_id": doc_id, "kind": "list_item", "pos": pos,
                           "attr": f"{ltype}{li_idx}", "text": it}
            for i, t in enumerate(p.quotes, start=1):
                yield {"doc_id": doc_id, "kind": "quote", "pos": i, "attr": "", "text": t}
            for i, t in enumerate(p.codes, start=1):
                yield {"doc_id": doc_id, "kind": "code", "pos": i, "attr": "", "text": t}

        cols = ["doc_id", "kind", "pos", "attr", "text"]
        for pdf in batches:
            rows = [
                r
                for doc_id, html in zip(pdf["doc_id"], pdf["html"])
                for r in walk(int(doc_id), html)
            ]
            yield _typed_frame(rows, cols, {"doc_id": "int64", "pos": "int64"})

    return extract


@register(
    "html_text_structure",
    tags=("html", "extract", "pandas_udf"),
    doc="Structured text content (ref src/scraper_v2.py:412-466): "
    "headings grouped by level before document order (template's h2 "
    "precedes its h1, so a document-order walk hash-fails), "
    "paragraphs gated at len>10 (a 'tiny' decoy vanishes), list "
    "items with container type+ordinal, blockquotes stripped, "
    "code/pre UNSTRIPPED (whitespace preserved in the hash).",
    oracle="""
        WITH d AS (SELECT doc_id FROM documents)
        SELECT doc_id, kind, pos, attr, text FROM (
          SELECT doc_id, 'heading' AS kind, CAST(1 AS BIGINT) AS pos, 'h1' AS attr,
                 'Top' || CAST(doc_id AS VARCHAR) AS text FROM d
          UNION ALL SELECT doc_id, 'heading', 2, 'h2',
                 'Second level ' || CAST(doc_id AS VARCHAR) FROM d
          UNION ALL SELECT doc_id, 'paragraph', 1, '',
                 'This paragraph is long enough ' || CAST(doc_id AS VARCHAR) || '.' FROM d
          UNION ALL SELECT doc_id, 'list_item', 1, 'ul1', 'Alpha' FROM d
          UNION ALL SELECT doc_id, 'list_item', 2, 'ul1',
                 'Beta ' || CAST(doc_id % 5 AS VARCHAR) FROM d
          UNION ALL SELECT doc_id, 'list_item', 3, 'ol2', 'One' FROM d WHERE doc_id % 3 = 0
          UNION ALL SELECT doc_id, 'quote', 1, '',
                 'Quoted wisdom ' || CAST(doc_id % 9 AS VARCHAR) FROM d
          UNION ALL SELECT doc_id, 'code', 1, '',
                 '  raw ' || CAST(doc_id AS VARCHAR) || '  ' FROM d
        )
        ORDER BY doc_id, kind, pos
    """,
)
def html_text_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def text_page(doc_id: int) -> str:
        ol = f"<ol><li>One</li></ol>" if doc_id % 3 == 0 else ""
        return (
            "<html><body>"
            f'<h2 id="s1">Second level {doc_id}</h2>'
            f"<h1>Top{doc_id}</h1>"
            "<p>tiny</p>"
            f"<p>This paragraph is long enough {doc_id}.</p>"
            f"<ul><li>Alpha</li><li>Beta {doc_id % 5}</li></ul>"
            f"{ol}"
            f"<blockquote>Quoted wisdom {doc_id % 9}</blockquote>"
            f"<pre>  raw {doc_id}  </pre>"
            "</body></html>"
        )

    return templated_extract(
        d, text_page, make_text_structure_extractor(), TEXT_STRUCT_SCHEMA
    ).orderBy("doc_id", "kind", "pos")


SCRIPTS_SCHEMA = (
    "doc_id long, pos long, src string, stype string, is_async long, "
    "is_defer long, content_length long, has_json long, likely_contains_data long"
)


def make_script_inventory_extractor():
    """Script inventory as a closure (pickled by value). Mirrors
    extract_all_scripts (ref src/scraper_v2.py:868-902): src/type
    attrs with '' defaults, async/defer presence flags, body length
    BEFORE strip, has_json only when the STRIPPED body starts with
    '{'/'[' AND parses as JSON, and the likely_contains_data flag
    when any of the reference's five data keywords appears in the
    body (jobs/products/team/funding/customers)."""

    def extract(batches):
        import json as _json

        from html.parser import HTMLParser

        KEYWORDS = ("jobs", "products", "team", "funding", "customers")

        class ScriptParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.scripts: list[dict] = []
                self.cur: dict | None = None

            def handle_starttag(self, tag, attrs):
                if tag == "script":
                    a = {k: v or "" for k, v in attrs}
                    self.cur = {
                        "src": a.get("src", ""),
                        "stype": a.get("type", ""),
                        "is_async": int("async" in a),
                        "is_defer": int("defer" in a),
                        "body": [],
                    }

            def handle_data(self, data):
                if self.cur is not None:
                    self.cur["body"].append(data)

            def handle_endtag(self, tag):
                if tag == "script" and self.cur is not None:
                    self.scripts.append(self.cur)
                    self.cur = None

        def walk(doc_id: int, html: str):
            p = ScriptParser()
            p.feed(html)
            for pos, s in enumerate(p.scripts, start=1):
                body = "".join(s["body"])
                stripped = body.strip()
                has_json = 0
                if stripped.startswith(("{", "[")):
                    try:
                        _json.loads(stripped)
                        has_json = 1
                    except ValueError:
                        pass
                yield {
                    "doc_id": doc_id,
                    "pos": pos,
                    "src": s["src"],
                    "stype": s["stype"],
                    "is_async": s["is_async"],
                    "is_defer": s["is_defer"],
                    "content_length": len(body),
                    "has_json": has_json,
                    "likely_contains_data": int(
                        bool(stripped) and any(k in stripped for k in KEYWORDS)
                    ),
                }

        cols = [
            "doc_id", "pos", "src", "stype", "is_async", "is_defer",
            "content_length", "has_json", "likely_contains_data",
        ]
        ints = {c: "int64" for c in cols if c not in ("src", "stype")}
        for pdf in batches:
            rows = [
                r
                for doc_id, html in zip(pdf["doc_id"], pdf["html"])
                for r in walk(int(doc_id), html)
            ]
            yield _typed_frame(rows, cols, ints)

    return extract


@register(
    "html_script_inventory",
    tags=("html", "extract", "pandas_udf"),
    doc="Script inventory (ref src/scraper_v2.py:868-902): src/type "
    "defaults, async/defer flags, pre-strip content length, "
    "has_json only for a parseable {/[-leading body (a malformed "
    "decoy that starts with { must stay 0), and the 5-keyword "
    "likely_contains_data flag (a 'jobs' mention inside a non-JSON "
    "body still sets it — faithful to the reference).",
    oracle="""
        WITH d AS (SELECT doc_id FROM documents)
        SELECT doc_id, pos, src, stype, is_async, is_defer,
               content_length, has_json, likely_contains_data
        FROM (
          SELECT doc_id, CAST(1 AS BIGINT) AS pos,
                 '/static/app' || CAST(doc_id % 10 AS VARCHAR) || '.js' AS src,
                 '' AS stype, CAST(1 AS BIGINT) AS is_async,
                 CAST(0 AS BIGINT) AS is_defer, CAST(0 AS BIGINT) AS content_length,
                 CAST(0 AS BIGINT) AS has_json, CAST(0 AS BIGINT) AS likely_contains_data
          FROM d
          UNION ALL SELECT doc_id, 2, '', 'application/ld+json', 0, 0,
                 CAST(16 + length(CAST(doc_id AS VARCHAR)) AS BIGINT), 1, 0 FROM d
          UNION ALL SELECT doc_id, 3, '', '', 0, 1,
                 CAST(26 AS BIGINT), 0,
                 CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END FROM d
          UNION ALL SELECT doc_id, 4, '', '', 0, 0, CAST(14 AS BIGINT), 0, 0 FROM d
        )
        ORDER BY doc_id, pos
    """,
)
def html_script_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def script_page(doc_id: int) -> str:
        # script 3: 26-char body; 'jobs' keyword only on even docs
        body3 = 'var a = "jobs listing";;;' if doc_id % 2 == 0 else 'var a = "misc page text";'
        assert len(body3) == 25
        return (
            "<html><head>"
            f'<script src="/static/app{doc_id % 10}.js" async></script>'
            f'<script type="application/ld+json">{{"id": {doc_id}, "x": 1}}</script>'
            f"<script defer>{body3} </script>"
            "<script>{not valid js}</script>"
            "</head></html>"
        )

    return templated_extract(
        d, script_page, make_script_inventory_extractor(), SCRIPTS_SCHEMA
    ).orderBy("doc_id", "pos")


PRICING_SCHEMA = (
    "doc_id long, pricing_model string, tier_pos long, tier_name string, price string"
)

_TIER_LADDER = (
    "free", "starter", "basic", "pro", "professional",
    "business", "enterprise", "premium", "plus",
)


def make_pricing_page_parser():
    """Pricing-page parse as a closure (pickled by value). Mirrors
    _parse_pricing_page (ref src/scraper_v2.py:3668-3722): the
    pricing-model ladder over full page text (per seat/per user ->
    per-seat, usage-based/pay as you go -> usage-based, enterprise
    AND contact -> enterprise), pricing cards = div/section whose
    class contains price/tier/plan (nested div/section markup inside
    a card deepens it rather than closing it; a class-matched
    descendant of an open card folds into the enclosing card instead
    of re-emitting as find_all would — pinned deviation), one tier
    per card = FIRST ladder name in the card text ('pro' matches
    inside 'professional' — the reference's quirk, pinned), price =
    the $-amount regex match
    including the dollar sign, and the h2-h4 heading fallback when no
    card yields a tier."""

    def extract(batches):
        import re as _re

        from html.parser import HTMLParser

        PRICE_RE = _re.compile(r"\$\s*(\d+(?:,\d{3})*(?:\.\d{2})?)")

        class PricingParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.text: list[str] = []
                self.cards: list[list[str]] = []
                self.card_depth = 0
                self.headings: list[list[str]] = []
                self.in_heading = False

            def handle_starttag(self, tag, attrs):
                cls = (dict(attrs).get("class") or "").lower()
                if tag in ("div", "section"):
                    if self.card_depth:
                        # any div/section nested inside an open card
                        # deepens it, so open/close events balance and
                        # trailing card text survives nested markup
                        # (class-matched descendants fold into the
                        # enclosing card rather than re-emitting, a
                        # pinned deviation from find_all)
                        self.card_depth += 1
                    elif any(k in cls for k in ("price", "tier", "plan")):
                        self.cards.append([])
                        self.card_depth = 1
                elif tag in ("h2", "h3", "h4"):
                    self.headings.append([])
                    self.in_heading = True

            def handle_data(self, data):
                self.text.append(data)
                if self.card_depth:
                    self.cards[-1].append(data)
                if self.in_heading:
                    self.headings[-1].append(data)

            def handle_endtag(self, tag):
                if tag in ("div", "section") and self.card_depth:
                    self.card_depth -= 1
                elif tag in ("h2", "h3", "h4"):
                    self.in_heading = False

        def walk(doc_id: int, html: str):
            p = PricingParser()
            p.feed(html)
            text = "".join(p.text).lower()
            if "per seat" in text or "per user" in text:
                model = "per-seat"
            elif "usage-based" in text or "pay as you go" in text:
                model = "usage-based"
            elif "enterprise" in text and "contact" in text:
                model = "enterprise"
            else:
                model = None
            tiers: list[tuple[str, str | None]] = []
            for card in p.cards:
                raw = "".join(card)
                low = raw.lower()
                for name in _TIER_LADDER:
                    if name in low:
                        m = PRICE_RE.search(raw)
                        tiers.append((name.capitalize(), m.group(0) if m else None))
                        break
            if not tiers:
                for h in p.headings:
                    low = "".join(h).lower()
                    for name in _TIER_LADDER:
                        if name in low:
                            tiers.append((name.capitalize(), None))
                            break
            if not tiers:
                yield {"doc_id": doc_id, "pricing_model": model, "tier_pos": 0,
                       "tier_name": None, "price": None}
                return
            for pos, (name, price) in enumerate(tiers, start=1):
                yield {"doc_id": doc_id, "pricing_model": model, "tier_pos": pos,
                       "tier_name": name, "price": price}

        cols = ["doc_id", "pricing_model", "tier_pos", "tier_name", "price"]
        for pdf in batches:
            rows = [
                r
                for doc_id, html in zip(pdf["doc_id"], pdf["html"])
                for r in walk(int(doc_id), html)
            ]
            yield _typed_frame(rows, cols, {"doc_id": "int64", "tier_pos": "int64"})

    return extract


@register(
    "pricing_page_parse",
    tags=("html", "extract", "entity", "pandas_udf"),
    doc="Pricing-page parse (ref src/scraper_v2.py:3668-3722): "
    "model-ladder over full page text, card scan by price/tier/plan "
    "class substrings, first-ladder-match tier per card (pinning the "
    "'pro'-inside-'professional' quirk), $-regex price including the "
    "sign (comma/decimal form every other page), and the h2-h4 "
    "heading fallback on every 5th page (no cards). Card 1 nests a "
    "non-matching <div> so the balanced card_depth is what keeps "
    "its trailing text (driver-checked). Model rotates "
    "per-seat / usage-based / enterprise+contact / none by doc_id%4, "
    "decoupled from the tier rows by keyword-free card text on the "
    "none pages.",
    oracle="""
        WITH d AS (
          SELECT doc_id,
                 CASE doc_id % 4 WHEN 0 THEN 'per-seat' WHEN 1 THEN 'usage-based'
                      WHEN 2 THEN 'enterprise' END AS model,
                 doc_id % 5 AS v, doc_id % 4 AS m
          FROM documents
        )
        SELECT doc_id, pricing_model, tier_pos, tier_name, price FROM (
          SELECT doc_id, model AS pricing_model, CAST(1 AS BIGINT) AS tier_pos,
                 'Premium' AS tier_name, CAST(NULL AS VARCHAR) AS price
          FROM d WHERE v = 0
          UNION ALL
          SELECT doc_id, model, 1, 'Pro',
                 CASE WHEN doc_id % 2 = 0 THEN '$1,299.00' ELSE '$29' END
          FROM d WHERE v <> 0
          UNION ALL
          SELECT doc_id, model, 2,
                 CASE WHEN m = 3 THEN 'Premium' ELSE 'Enterprise' END,
                 CAST(NULL AS VARCHAR)
          FROM d WHERE v <> 0
        )
        ORDER BY doc_id, tier_pos
    """,
)
def pricing_page_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def pricing_page(doc_id: int) -> str:
        m = doc_id % 4
        model_p = {
            0: "<p>Billed per user monthly.</p>",
            1: "<p>Pay as you go pricing.</p>",
            2: "<p>Enterprise? contact sales.</p>",
            3: "<p>Flexible billing options.</p>",
        }[m]
        if doc_id % 5 == 0:
            return (
                "<html><body>"
                f"{model_p}<h2>Why us</h2><h3>Premium support</h3>"
                "</body></html>"
            )
        price = "$1,299.00" if doc_id % 2 == 0 else "$29"
        card2_word = "Premium tier" if m == 3 else "Enterprise: contact sales"
        # the nested non-matching <div> is the balanced-depth
        # shape: its close must deepen-then-pop, not end the card,
        # or the trailing "Professional plan $..." text is lost
        return (
            "<html><body>"
            f"{model_p}"
            f'<div class="price-card"><div class="badge">Popular</div>'
            f"Professional plan {price}/mo</div>"
            f'<section class="tier-list">{card2_word}</section>'
            "</body></html>"
        )

    return templated_extract(d, pricing_page, make_pricing_page_parser(), PRICING_SCHEMA).orderBy(
        "doc_id", "tier_pos"
    )


MENTIONS_SCHEMA = "doc_id long, kind string, name string"


def make_customer_partner_parser():
    """Customer/partner mention harvest as a closure (pickled by
    value). Mirrors _parse_customers_page + _parse_partners_page (ref
    src/scraper_v2.py:3724-3777): page-wide img alt texts (customers
    EXCLUDE alts containing 'logo'; partners keep them), plus items
    from class-scoped sections (customer/client -> li/div items;
    partner/integration -> li/a items), all gated at len<100. The
    reference dedupes via list(set(...))[:50] — nondeterministic set
    order — re-expressed as sorted-distinct capped at 50, the
    deterministic semantic the oracle can check (documented
    deviation: same membership, defined order)."""

    def extract(batches):
        from html.parser import HTMLParser

        class MentionParser(HTMLParser):
            def __init__(self) -> None:
                super().__init__()
                self.img_alts: list[str] = []
                self.section: str | None = None
                self.section_tag: str | None = None
                self.item_buf: list[str] | None = None
                self.item_tag: str | None = None
                self.cust_items: list[str] = []
                self.part_items: list[str] = []

            def handle_starttag(self, tag, attrs):
                a = {k: v or "" for k, v in attrs}
                cls = a.get("class", "").lower()
                if tag == "img" and "alt" in a:
                    self.img_alts.append(a["alt"].strip())
                elif tag in ("ul", "div") and self.section is None:
                    if "customer" in cls or "client" in cls:
                        self.section, self.section_tag = "customer", tag
                    elif "partner" in cls or "integration" in cls:
                        self.section, self.section_tag = "partner", tag
                elif self.section == "customer" and tag in ("li", "div"):
                    self.item_buf, self.item_tag = [], tag
                elif self.section == "partner" and tag in ("li", "a"):
                    self.item_buf, self.item_tag = [], tag

            def handle_data(self, data):
                if self.item_buf is not None:
                    self.item_buf.append(data)

            def handle_endtag(self, tag):
                if self.item_buf is not None and tag == self.item_tag:
                    text = "".join(self.item_buf).strip()
                    if text and len(text) < 100:
                        (self.cust_items if self.section == "customer" else self.part_items).append(text)
                    self.item_buf = None
                elif self.section is not None and tag == self.section_tag:
                    self.section = None

            def handle_startendtag(self, tag, attrs):
                self.handle_starttag(tag, attrs)

        def walk(doc_id: int, html: str):
            p = MentionParser()
            p.feed(html)
            customers = [
                a for a in p.img_alts if a and len(a) < 100 and "logo" not in a.lower()
            ] + p.cust_items
            partners = [a for a in p.img_alts if a and len(a) < 100] + p.part_items
            for kind, names in (("customer", customers), ("partner", partners)):
                for name in sorted(set(names))[:50]:
                    yield {"doc_id": doc_id, "kind": kind, "name": name}

        cols = ["doc_id", "kind", "name"]
        for pdf in batches:
            rows = [
                r
                for doc_id, html in zip(pdf["doc_id"], pdf["html"])
                for r in walk(int(doc_id), html)
            ]
            yield _typed_frame(rows, cols, {"doc_id": "int64"})

    return extract


@register(
    "customer_partner_mentions",
    tags=("html", "extract", "entity", "pandas_udf"),
    doc="Customer/partner mention harvest (ref src/scraper_v2.py:"
    "3724-3777): page-wide img alts (a 'BigCo logo' alt is excluded "
    "from customers but KEPT for partners — the asymmetry pinned), "
    "class-scoped list items (customer/client sections via li/div, "
    "partner/integration via li/a; a 'features' decoy section "
    "ignored), len<100 gates, and the reference's set-dedupe+cap "
    "re-expressed as deterministic sorted-distinct[:50] (same "
    "membership, defined order — documented deviation).",
    oracle="""
        WITH d AS (SELECT doc_id FROM documents),
        raw AS (
          SELECT doc_id, 'customer' AS kind,
                 'Acme Corp ' || CAST(doc_id % 7 AS VARCHAR) AS name FROM d
          UNION ALL SELECT doc_id, 'customer', 'Client One' FROM d
          UNION ALL SELECT doc_id, 'customer',
                 'Client ' || CAST(doc_id % 3 AS VARCHAR) FROM d
          UNION ALL SELECT doc_id, 'partner',
                 'Acme Corp ' || CAST(doc_id % 7 AS VARCHAR) FROM d
          UNION ALL SELECT doc_id, 'partner', 'BigCo logo' FROM d
          UNION ALL SELECT doc_id, 'partner', 'Zapier' FROM d
          UNION ALL SELECT doc_id, 'partner',
                 'Slack ' || CAST(doc_id % 4 AS VARCHAR) FROM d
        )
        SELECT DISTINCT doc_id, kind, name FROM raw
        ORDER BY doc_id, kind, name
    """,
)
def customer_partner_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def mention_page(doc_id: int) -> str:
        return (
            "<html><body>"
            f'<img alt="Acme Corp {doc_id % 7}"/>'
            '<img alt="BigCo logo"/>'
            '<img alt=""/>'
            f'<ul class="customer-grid"><li>Client One</li>'
            f"<li>Client {doc_id % 3}</li></ul>"
            f'<div class="integration-list"><a>Zapier</a>'
            f"<a>Slack {doc_id % 4}</a></div>"
            '<div class="features"><a>Decoy Item</a></div>'
            "</body></html>"
        )

    return templated_extract(
        d, mention_page, make_customer_partner_parser(), MENTIONS_SCHEMA
    ).orderBy("doc_id", "kind", "name")


TEAM_SCHEMA = "doc_id long, card_pos long, name string, job_title string, same_as string"

_TEAM_EXCLUDE = (
    "office", "location", "benefits", "pto", "perks", "roles", "open roles",
    "unlimited", "comprehensive", "medical", "dental", "vision", "insurance",
    "stipend", "global family", "about us", "for business", "seoul", "ljubljana",
    "san francisco", "korea", "brooklyn", "marketing", "ops teams",
    "engineering office",
)


def _make_team_validator():
    """Factory so the validator is a <locals> closure: cloudpickle
    serializes it by value into worker closures (the module is not
    importable from the driver's foreign-cwd workers)."""
    exclude = _TEAM_EXCLUDE

    def is_valid(name: str, role: str | None = None) -> bool:
        """The reference's strict team-member validation ladder
        (src/scraper_v2.py:2887-2920): >=3 chars, contains a space,
        neither name nor role hits the 27-keyword exclude list, no
        'speak ' location prefix (the reference's other two prefixes,
        'office'/'location', are subsumed by the keyword list), 2-4
        words, first word capitalized."""
        if not name or len(name) < 3 or " " not in name:
            return False
        name_lower = name.lower()
        role_lower = (role or "").lower()
        if name_lower.startswith("speak "):
            return False
        if any(k in name_lower for k in exclude):
            return False
        if role and any(k in role_lower for k in exclude):
            return False
        words = name.split()
        if len(words) < 2 or len(words) > 4:
            return False
        return words[0][0].isupper()

    return is_valid


is_valid_team_member = _make_team_validator()


def make_team_extractor():
    """Team-page extraction as a closure (pickled by value). Mirrors
    _extract_team_from_html (ref src/scraper_v2.py:2866-2975) with
    one documented deviation: each card element is processed ONCE (the
    reference walks overlapping selectors without a break, re-emitting
    the same element per matching selector). Cards = elements whose
    class contains team/member/person; name = first heading/strong/
    span with a name-class, else first h2-h4/strong; role = first
    element with a role/title/position class, else the first <p> when
    <150 chars and not an http link; LinkedIn = first anchor with a
    linkedin.com href; every candidate runs the is_valid_team_member
    ladder before emission. Card scope is an open-tag stack with lxml
    recovery semantics: a new block start implied-closes an open
    <p>/<li>, an end tag pops to its matching open tag (auto-closing
    unclosed inline tags above it), and unmatched end tags are
    dropped — so tag soup can't skew the card scope, BeautifulSoup
    scoping parity for real pages."""

    valid = _make_team_validator()

    def extract(batches):
        from html.parser import HTMLParser

        NAME_TAGS = {"h1", "h2", "h3", "h4", "h5", "strong", "span"}
        FALLBACK_NAME_TAGS = {"h2", "h3", "h4", "strong"}
        ROLE_KEYS = ("role", "title", "position", "job-title", "jobtitle")
        # HTML void elements never get a close tag from html.parser,
        # so they must not deepen the card (an <img> headshot inside a
        # card would otherwise unbalance the counter and swallow every
        # later card — BeautifulSoup scoping never sees this)
        VOID_TAGS = {
            "img", "br", "hr", "input", "meta", "link", "source",
            "area", "base", "col", "embed", "track", "wbr",
        }

        # lxml/BeautifulSoup imply-close an open <p> when any of these
        # start tags arrives (HTML5 "p end tag can be omitted" list) —
        # html.parser reports tags verbatim, so unclosed <p>/<li>
        # would otherwise unbalance the card scope and swallow every
        # later card, a parity gap with the reference's BS scoping
        P_CLOSERS = {
            "address", "article", "aside", "blockquote", "div", "dl",
            "fieldset", "footer", "form", "h1", "h2", "h3", "h4", "h5",
            "h6", "header", "hr", "main", "nav", "ol", "p", "pre",
            "section", "table", "ul", "li",
        }

        class TeamParser(HTMLParser):
            # Card scope is a real open-tag stack, not a depth counter:
            # an end tag pops to its MATCHING open tag (implied-closing
            # anything unclosed above it, the way lxml auto-closes), and
            # an end tag with no matching open tag is dropped (lxml
            # discards unmatched closes). A bare counter can't do either
            # — one unclosed inline tag or one stray close would skew it
            # for the rest of the page and swallow every later card.
            def __init__(self) -> None:
                super().__init__()
                self.cards: list[dict] = []
                self.card: dict | None = None
                self.stack: list[str] = []  # open tags; bottom = card root
                self.grab: tuple[str, str] | None = None  # (slot, tag)

            def _pop(self):
                tag = self.stack.pop()
                if self.grab is not None and tag == self.grab[1]:
                    self.grab = None
                if not self.stack:
                    self.cards.append(self.card)
                    self.card = None

            def _imply_close_for_start(self, tag):
                if self.stack and self.stack[-1] == "p" and tag in P_CLOSERS:
                    self._pop()
                if self.stack and self.stack[-1] == "li" and tag == "li":
                    self._pop()

            def handle_starttag(self, tag, attrs):
                a = {k: v or "" for k, v in attrs}
                cls = a.get("class", "").lower()
                if self.card is None:
                    if tag == "div" and any(k in cls for k in ("team", "member", "person")):
                        self.card = {"named": [], "fallback": [], "roles": [],
                                     "ps": [], "linkedin": None}
                        self.stack = [tag]
                    return
                # imply-close BEFORE the void-tag return: <hr> is void
                # (never pushed) but still in the HTML5 p-closers list,
                # so '<p>bio<hr>after' must end the <p> grab here —
                # lxml closes the paragraph at the <hr> too
                self._imply_close_for_start(tag)
                if tag in VOID_TAGS:
                    return
                self.stack.append(tag)
                if tag == "a" and "linkedin.com" in a.get("href", "").lower():
                    if self.card["linkedin"] is None:
                        self.card["linkedin"] = a["href"]
                if tag in NAME_TAGS and "name" in cls:
                    self.grab = ("named", tag)
                    self.card["named"].append([])
                elif tag in FALLBACK_NAME_TAGS:
                    self.grab = ("fallback", tag)
                    self.card["fallback"].append([])
                elif any(k in cls for k in ROLE_KEYS):
                    self.grab = ("roles", tag)
                    self.card["roles"].append([])
                elif tag == "p":
                    self.grab = ("ps", tag)
                    self.card["ps"].append([])

            def handle_data(self, data):
                if self.card is not None and self.grab is not None:
                    self.card[self.grab[0]][-1].append(data)

            def handle_endtag(self, tag):
                if self.card is None or tag in VOID_TAGS:
                    return
                if tag not in self.stack:
                    return  # unmatched end tag: lxml drops it
                while self.stack[-1] != tag:
                    self._pop()  # implied-close everything above the match
                self._pop()

            def handle_startendtag(self, tag, attrs):
                # lxml parity (same rule as NavParser): HTML5 ignores
                # the "/" on a non-void start tag, so <div/> inside a
                # card OPENS a div — treating it as open+close would
                # make the card's next real </div> close the card
                # early. Void tags never push, so start-only is
                # correct for them too.
                self.handle_starttag(tag, attrs)

        def walk(doc_id: int, html: str):
            p = TeamParser()
            p.feed(html)
            if len(p.cards) <= 1:  # the reference's >1-matches pattern gate
                return
            pos = 0
            for c in p.cards[:30]:
                name_src = c["named"] or c["fallback"]
                name = "".join(name_src[0]).strip() if name_src else None
                role = None
                if c["roles"]:
                    role = "".join(c["roles"][0]).strip()
                elif c["ps"]:
                    first_p = "".join(c["ps"][0]).strip()
                    if len(first_p) < 150 and not first_p.lower().startswith("http"):
                        role = first_p
                if name and valid(name, role):
                    pos += 1
                    yield {"doc_id": doc_id, "card_pos": pos, "name": name,
                           "job_title": role, "same_as": c["linkedin"]}

        cols = ["doc_id", "card_pos", "name", "job_title", "same_as"]
        for pdf in batches:
            rows = [
                r
                for doc_id, html in zip(pdf["doc_id"], pdf["html"])
                for r in walk(int(doc_id), html)
            ]
            yield _typed_frame(rows, cols, {"doc_id": "int64", "card_pos": "int64"})

    return extract


@register(
    "team_page_extract",
    tags=("html", "extract", "entity", "pandas_udf"),
    doc="Team-page extraction (ref src/scraper_v2.py:2866-2975): "
    "class-scanned member cards, name-classed tag before heading "
    "fallback, role-classed tag before first-<p> fallback (<150 "
    "chars, not a URL), LinkedIn capture, and the full strict "
    "validation ladder — templated decoys (single-word name, "
    "'San Francisco Office', a 'Speak With Us' prefix hit, a role "
    "hitting the 'engineering office' exclude, a lowercase 'van der "
    "Berg') must all be rejected while the three real members "
    "survive; the second card's role <p> is unclosed so the lxml "
    "implied-close is what keeps the third card alive — both "
    "driver-checked. Deviation from "
    "the reference documented in make_team_extractor: overlapping "
    "selectors are deduped to one pass per element.",
    oracle="""
        WITH d AS (SELECT doc_id FROM documents)
        SELECT doc_id, card_pos, name, job_title, same_as FROM (
          SELECT doc_id, CAST(1 AS BIGINT) AS card_pos,
                 'Ada Lovelace ' || CAST(doc_id % 9 AS VARCHAR) AS name,
                 'Chief Engineer' AS job_title,
                 'https://linkedin.com/in/ada' || CAST(doc_id AS VARCHAR) AS same_as
          FROM d
          UNION ALL
          SELECT doc_id, 2, 'Grace Hopper', 'VP of Compute',
                 CAST(NULL AS VARCHAR)
          FROM d
          UNION ALL
          SELECT doc_id, 3, 'Alan Turing', 'Research Lead',
                 CAST(NULL AS VARCHAR)
          FROM d
        )
        ORDER BY doc_id, card_pos
    """,
)
def team_page_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    def team_page(doc_id: int) -> str:
        # Grace's role <p> is deliberately UNCLOSED (the lxml
        # implied-close shape: her card's </div> must end it, or
        # every later card — including Alan's real one — is
        # swallowed), and a 'Speak With Us' decoy exercises the
        # validator prefix; Alan sits LAST so any depth unbalance
        # above him hash-mismatches.
        return (
            "<html><body>"
            '<div class="team-member">'
            f'<h3 class="member-name">Ada Lovelace {doc_id % 9}</h3>'
            '<p class="role-title">Chief Engineer</p>'
            f'<a href="https://linkedin.com/in/ada{doc_id}">profile</a></div>'
            '<div class="person-card"><h4>Grace Hopper</h4>'
            "<p>VP of Compute</div>"
            '<div class="team-member"><h3>Plato</h3></div>'
            '<div class="team-member"><h3>San Francisco Office</h3></div>'
            '<div class="team-member"><h3>Speak With Us</h3></div>'
            '<div class="member-box"><h3>John Smith</h3>'
            '<p class="role">Engineering Office Lead</p></div>'
            '<div class="team-member"><h3>van der Berg</h3></div>'
            '<div class="team-crew"><h3 class="member-name">Alan Turing</h3>'
            '<p class="title-role">Research Lead</p></div>'
            "</body></html>"
        )

    return templated_extract(d, team_page, make_team_extractor(), TEAM_SCHEMA).orderBy(
        "doc_id", "card_pos"
    )
