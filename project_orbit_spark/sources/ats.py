"""S5 ATS per-vendor job normalization — SURVEY.md §2.1.

The reference ships one extractor per ATS vendor, each knowing that
vendor's payload shape and field names (src/ats_extractor.py:114-220
Greenhouse ``jobs[].title/location.name/departments[].name``, :221-288
Lever ``[].text/categories.location/categories.team``, :491-656 Ashby
``jobPostings[].title/locationName/team.name``), detected by content
markers (:43-113 detect_ats). Spark-first re-expression: vendor
detection is a CASE over content markers, each vendor shape is a
typed ``from_json`` schema, and the per-vendor branches normalize to
one schema and ``unionByName`` — a tagged union, all JVM-side, no
Python in the hot path.

The fixture has no ATS payloads, so deterministic vendor JSON is
synthesized per document (vendor rotates by doc_id%6, 1+doc_id%2
jobs each) with real vendor domains as detection markers; the oracle
regenerates the normalized rows from the same arithmetic. The four
vendors the reference scrapes from HTML instead of an API (iCIMS,
Workday, Oracle Taleo, Jobvite) route through the C18 job-card
parser — see ats_html_vendor_jobs below.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_orbit_spark.catalog import load
from project_orbit_spark.registry import register

GREENHOUSE_SCHEMA = (
    "STRUCT<jobs: ARRAY<STRUCT<title: STRING, location: STRUCT<name: STRING>, "
    "departments: ARRAY<STRUCT<name: STRING>>, absolute_url: STRING, id: BIGINT, "
    "updated_at: STRING>>>"
)
LEVER_SCHEMA = (
    "ARRAY<STRUCT<text: STRING, categories: STRUCT<location: STRING, team: STRING>, "
    "hostedUrl: STRING, id: STRING>>"
)
ASHBY_SCHEMA = (
    "STRUCT<jobPostings: ARRAY<STRUCT<title: STRING, locationName: STRING, "
    "team: STRUCT<name: STRING>, publishedJobUrl: STRING, id: STRING>>>"
)
# Workable jobs API shape (ref src/ats_extractor.py:360-381: results[].
# title / location.city[] joined ', ' / department / url / id)
WORKABLE_SCHEMA = (
    "STRUCT<results: ARRAY<STRUCT<title: STRING, location: STRUCT<city: ARRAY<STRING>>, "
    "department: STRING, url: STRING, id: BIGINT, published_on: STRING>>>"
)
# SmartRecruiters postings API shape (ref src/ats_extractor.py:814-841
# extracts title/url; the public postings list nests name /
# location.city / department.label / ref)
SMARTRECRUITERS_SCHEMA = (
    "STRUCT<content: ARRAY<STRUCT<name: STRING, location: STRUCT<city: STRING>, "
    "department: STRUCT<label: STRING>, ref: STRING, id: STRING>>>"
)
# BambooHR careers list shape (ref src/ats_extractor.py:657-716 extracts
# title/location/department/url; the public careers API nests
# jobOpeningName / location.city / departmentLabel / jobOpeningShareUrl)
BAMBOOHR_SCHEMA = (
    "STRUCT<result: ARRAY<STRUCT<jobOpeningName: STRING, location: STRUCT<city: STRING>, "
    "departmentLabel: STRING, jobOpeningShareUrl: STRING, id: BIGINT>>>"
)

NORMALIZED_COLS = ("doc_id", "vendor", "title", "location", "department", "url", "job_id")


def detect_vendor(payload: Column) -> Column:
    """Content-marker vendor detection for all 10 reference vendors
    (ref src/ats_extractor.py:43-113, same check order: greenhouse,
    lever, workable, ashby, bamboohr, icims, workday, oracle/taleo,
    smartrecruiters, jobvite): first matching vendor domain wins,
    None otherwise."""
    return (
        F.when(payload.contains("greenhouse.io"), F.lit("greenhouse"))
        .when(payload.contains("lever.co"), F.lit("lever"))
        .when(payload.contains("workable.com"), F.lit("workable"))
        .when(payload.contains("ashbyhq.com"), F.lit("ashby"))
        .when(payload.contains("bamboohr.com"), F.lit("bamboohr"))
        .when(payload.contains("icims.com"), F.lit("icims"))
        .when(
            payload.contains("myworkdayjobs.com") | payload.contains("workday.com"),
            F.lit("workday"),
        )
        .when(
            payload.contains("taleo.net") | payload.contains("oraclecloud.com"),
            F.lit("oracle"),
        )
        .when(payload.contains("smartrecruiters.com"), F.lit("smartrecruiters"))
        .when(payload.contains("jobvite.com"), F.lit("jobvite"))
        .otherwise(F.lit(None).cast("string"))
    )


def normalize_ats_payloads(
    df: DataFrame,
    payload_col: str = "payload",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """The S5 operator: tagged-union normalization of per-vendor ATS
    JSON into (vendor, title, location, department, url, job_id).
    Each branch filters to its vendor, parses with that vendor's typed
    schema, explodes the job array, and renames to the normal form.
    ``keep_cols`` are input columns carried through unchanged (the
    page-merge seam threads ``page`` so it can break cross-page ties
    deterministically)."""
    p = F.col(payload_col)
    tagged = df.withColumn("vendor", detect_vendor(p))
    keep = list(keep_cols)

    gh = (
        tagged.filter(F.col("vendor") == "greenhouse")
        .select(
            *keep,
            "vendor",
            F.explode(F.from_json(p, GREENHOUSE_SCHEMA)["jobs"]).alias("j"),
        )
        .select(
            *keep,
            "vendor",
            F.col("j.title").alias("title"),
            F.col("j.location.name").alias("location"),
            F.element_at("j.departments", 1)["name"].alias("department"),
            F.col("j.absolute_url").alias("url"),
            F.col("j.id").cast("string").alias("job_id"),
        )
    )
    lv = (
        tagged.filter(F.col("vendor") == "lever")
        .select(*keep, "vendor", F.explode(F.from_json(p, LEVER_SCHEMA)).alias("j"))
        .select(
            *keep,
            "vendor",
            F.col("j.text").alias("title"),
            F.col("j.categories.location").alias("location"),
            F.col("j.categories.team").alias("department"),
            F.col("j.hostedUrl").alias("url"),
            F.col("j.id").alias("job_id"),
        )
    )
    asb = (
        tagged.filter(F.col("vendor") == "ashby")
        .select(
            *keep,
            "vendor",
            F.explode(F.from_json(p, ASHBY_SCHEMA)["jobPostings"]).alias("j"),
        )
        .select(
            *keep,
            "vendor",
            F.col("j.title").alias("title"),
            F.col("j.locationName").alias("location"),
            F.col("j.team.name").alias("department"),
            F.col("j.publishedJobUrl").alias("url"),
            F.col("j.id").alias("job_id"),
        )
    )
    wk = (
        tagged.filter(F.col("vendor") == "workable")
        .select(
            *keep,
            "vendor",
            F.explode(F.from_json(p, WORKABLE_SCHEMA)["results"]).alias("j"),
        )
        .select(
            *keep,
            "vendor",
            F.col("j.title").alias("title"),
            # ref joins the city list with ', ' (src/ats_extractor.py:374)
            F.array_join("j.location.city", ", ").alias("location"),
            F.col("j.department").alias("department"),
            F.col("j.url").alias("url"),
            F.col("j.id").cast("string").alias("job_id"),
        )
    )
    sr = (
        tagged.filter(F.col("vendor") == "smartrecruiters")
        .select(
            *keep,
            "vendor",
            F.explode(F.from_json(p, SMARTRECRUITERS_SCHEMA)["content"]).alias("j"),
        )
        .select(
            *keep,
            "vendor",
            F.col("j.name").alias("title"),
            F.col("j.location.city").alias("location"),
            F.col("j.department.label").alias("department"),
            F.col("j.ref").alias("url"),
            F.col("j.id").alias("job_id"),
        )
    )
    bh = (
        tagged.filter(F.col("vendor") == "bamboohr")
        .select(
            *keep,
            "vendor",
            F.explode(F.from_json(p, BAMBOOHR_SCHEMA)["result"]).alias("j"),
        )
        .select(
            *keep,
            "vendor",
            F.col("j.jobOpeningName").alias("title"),
            F.col("j.location.city").alias("location"),
            F.col("j.departmentLabel").alias("department"),
            F.col("j.jobOpeningShareUrl").alias("url"),
            F.col("j.id").cast("string").alias("job_id"),
        )
    )
    return gh.unionByName(lv).unionByName(asb).unionByName(wk).unionByName(sr).unionByName(bh)


def merge_paged_ats_payloads(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Fetch-seam page-merge contract. The live network loop (the
    documented mapInPandas seam — ref src/ats_extractor.py:114-240
    fetches per-vendor list endpoints) yields one payload row per
    (doc_id, page); this merges a doc's pages into one normalized job
    list: jobs from every page union, and a job repeated across page
    boundaries (offset drift between successive requests against a
    changing board) collapses to one row keyed on (doc_id, vendor,
    job_id). Jobs with a NULL job_id (the HTML-extraction tier carries
    none) cannot be identified across pages and pass through unmerged.
    When the input carries a ``page`` column the winner is
    deterministic LAST-PAGE-WINS (a job whose fields drifted between
    paged fetches keeps the freshest copy; the live loop reads pages
    ascending, so the highest page is the latest fetch), title as the
    final tie-break; without one, an arbitrary-but-single row survives
    as before. Scale shape: one shuffle keyed on the composite id —
    the same plan at 10 boards or 10 million."""
    has_page = "page" in df.columns
    keep = ("doc_id", "page") if has_page else ("doc_id",)
    jobs = normalize_ats_payloads(df, payload_col, keep_cols=keep)
    order = (
        [F.col("page").desc(), F.col("title").asc_nulls_last()]
        if has_page
        else [F.lit(1).asc()]
    )
    w = Window.partitionBy("doc_id", "vendor", "job_id").orderBy(*order)
    with_id = (
        jobs.filter(F.col("job_id").isNotNull())
        .withColumn("_pick", F.row_number().over(w))
        .filter(F.col("_pick") == 1)
        .drop("_pick")
    )
    without_id = jobs.filter(F.col("job_id").isNull())
    out = with_id.unionByName(without_id)
    return out.drop("page") if has_page else out


def _vendor_payload() -> Column:
    """Synthesize this doc's vendor payload (vendor = doc_id%6,
    1+doc_id%2 jobs) as a textual JSON column so the operator
    genuinely parses JSON, not pre-built structs."""
    d = F.col("doc_id")
    idxs = F.sequence(F.lit(0), (d % 2).cast("int"))

    def job(fmt: str, *args: Column) -> Column:
        return F.format_string(fmt, *args)

    gh_jobs = F.concat_ws(
        ",",
        F.transform(
            idxs,
            lambda i: job(
                '{"title": "GH Role %d-%d", "location": {"name": "Loc%d"}, '
                '"departments": [{"name": "Dept%d"}], '
                '"absolute_url": "https://boards.greenhouse.io/acme/%d/%d", '
                '"id": %d, "updated_at": "2024-05-01"}',
                d, i, (d + i) % 7, (d + i) % 3, d, i, d * 10 + i,
            ),
        ),
    )
    lv_jobs = F.concat_ws(
        ",",
        F.transform(
            idxs,
            lambda i: job(
                '{"text": "LV Role %d-%d", "categories": {"location": "Loc%d", '
                '"team": "Team%d"}, "hostedUrl": "https://jobs.lever.co/acme/%d/%d", '
                '"id": "lv-%d-%d"}',
                d, i, (d + i) % 7, (d + i) % 3, d, i, d, i,
            ),
        ),
    )
    as_jobs = F.concat_ws(
        ",",
        F.transform(
            idxs,
            lambda i: job(
                '{"title": "AS Role %d-%d", "locationName": "Loc%d", '
                '"team": {"name": "Team%d"}, '
                '"publishedJobUrl": "https://jobs.ashbyhq.com/acme/%d/%d", '
                '"id": "as-%d-%d"}',
                d, i, (d + i) % 7, (d + i) % 3, d, i, d, i,
            ),
        ),
    )
    wk_jobs = F.concat_ws(
        ",",
        F.transform(
            idxs,
            lambda i: job(
                '{"title": "WK Role %d-%d", "location": {"city": ["Loc%d"]}, '
                '"department": "Dept%d", '
                '"url": "https://apply.workable.com/acme/j/%d/%d", '
                '"id": %d, "published_on": "2024-05-01"}',
                d, i, (d + i) % 7, (d + i) % 3, d, i, d * 10 + i,
            ),
        ),
    )
    sr_jobs = F.concat_ws(
        ",",
        F.transform(
            idxs,
            lambda i: job(
                '{"name": "SR Role %d-%d", "location": {"city": "Loc%d"}, '
                '"department": {"label": "Dept%d"}, '
                '"ref": "https://jobs.smartrecruiters.com/acme/%d/%d", '
                '"id": "sr-%d-%d"}',
                d, i, (d + i) % 7, (d + i) % 3, d, i, d, i,
            ),
        ),
    )
    bh_jobs = F.concat_ws(
        ",",
        F.transform(
            idxs,
            lambda i: job(
                '{"jobOpeningName": "BH Role %d-%d", "location": {"city": "Loc%d"}, '
                '"departmentLabel": "Dept%d", '
                '"jobOpeningShareUrl": "https://acme.bamboohr.com/careers/%d/%d", '
                '"id": %d}',
                d, i, (d + i) % 7, (d + i) % 3, d, i, d * 10 + i,
            ),
        ),
    )
    return (
        F.when(d % 6 == 0, F.concat(F.lit('{"jobs": ['), gh_jobs, F.lit("]}")))
        .when(d % 6 == 1, F.concat(F.lit("["), lv_jobs, F.lit("]")))
        .when(d % 6 == 2, F.concat(F.lit('{"jobPostings": ['), as_jobs, F.lit("]}")))
        .when(d % 6 == 3, F.concat(F.lit('{"results": ['), wk_jobs, F.lit("]}")))
        .when(d % 6 == 4, F.concat(F.lit('{"content": ['), sr_jobs, F.lit("]}")))
        .otherwise(F.concat(F.lit('{"result": ['), bh_jobs, F.lit("]}")))
    )


@register(
    "ats_normalize_jobs",
    tags=("source", "json"),
    doc="S5 ATS vendor normalization (ref src/ats_extractor.py:43-113 "
    "detection, :114-220 Greenhouse, :221-288 Lever, :289-490 "
    "Workable, :491-656 Ashby, :657-716 BambooHR, :814-841 "
    "SmartRecruiters): content-marker vendor detection → per-vendor "
    "typed from_json → explode → unionByName into one normal form. "
    "Oracle regenerates the normalized rows from the synthesis "
    "arithmetic.",
    oracle="""
        SELECT doc_id,
               CASE doc_id % 6 WHEN 0 THEN 'greenhouse' WHEN 1 THEN 'lever'
                 WHEN 2 THEN 'ashby' WHEN 3 THEN 'workable'
                 WHEN 4 THEN 'smartrecruiters' ELSE 'bamboohr' END AS vendor,
               CASE doc_id % 6 WHEN 0 THEN 'GH' WHEN 1 THEN 'LV' WHEN 2 THEN 'AS'
                 WHEN 3 THEN 'WK' WHEN 4 THEN 'SR' ELSE 'BH' END
                 || ' Role ' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)
                 AS title,
               'Loc' || CAST((doc_id + i) % 7 AS VARCHAR) AS location,
               CASE WHEN doc_id % 6 IN (1, 2)
                 THEN 'Team' || CAST((doc_id + i) % 3 AS VARCHAR)
                 ELSE 'Dept' || CAST((doc_id + i) % 3 AS VARCHAR) END AS department,
               CASE doc_id % 6
                 WHEN 0 THEN 'https://boards.greenhouse.io/acme/'
                   || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
                 WHEN 1 THEN 'https://jobs.lever.co/acme/'
                   || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
                 WHEN 2 THEN 'https://jobs.ashbyhq.com/acme/'
                   || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
                 WHEN 3 THEN 'https://apply.workable.com/acme/j/'
                   || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
                 WHEN 4 THEN 'https://jobs.smartrecruiters.com/acme/'
                   || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
                 ELSE 'https://acme.bamboohr.com/careers/'
                   || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
               END AS url,
               CASE doc_id % 6
                 WHEN 1 THEN 'lv-' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)
                 WHEN 2 THEN 'as-' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)
                 WHEN 4 THEN 'sr-' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)
                 ELSE CAST(doc_id * 10 + i AS VARCHAR)
               END AS job_id
        FROM documents, UNNEST(range(0, 1 + doc_id % 2)) AS t(i)
        ORDER BY doc_id, job_id
    """,
)
def ats_normalize_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id")
    payloads = d.select("doc_id", _vendor_payload().alias("payload"))
    return normalize_ats_payloads(payloads).orderBy("doc_id", "job_id")


# ---------------------------------------------------------------------------
# HTML-tier vendors: the reference scrapes iCIMS / Workday / Oracle
# Taleo / Jobvite listings out of HTML card/table markup rather than a
# JSON API (src/ats_extractor.py:718-750 icims, :751-784 workday,
# :785-813 oracle, :843-869 jobvite) — so these four route through the
# C18 job-card parser (the pandas tier), then normalize to the same
# shape as the JSON vendors. A tagged union across execution tiers.

_HTML_VENDOR_DOMAINS = (
    "careers.icims.com/acme",
    "acme.myworkdayjobs.com/en-US",
    "acme.taleo.net/careersection",
    "jobs.jobvite.com/acme",
)
_HTML_VENDOR_PREFIX = ("IC", "WD", "OR", "JV")


def _make_ats_listing_page():
    # a <locals> closure, so it pickles by value (see
    # functions.html_extract.templated_extract)
    def _ats_listing_page(doc_id: int) -> str:
        """Deterministic vendor listing page (vendor = doc_id%4, rows =
        1+doc_id%3): a job table with Title/Location/Department headers and
        a per-row apply link whose href carries the vendor domain — the
        marker detect_ats keys on and the shape the reference's HTML
        extractors walk."""
        v = doc_id % 4
        n = 1 + doc_id % 3
        rows = "".join(
            f"<tr><td>{_HTML_VENDOR_PREFIX[v]} Role {doc_id}-{i}</td>"
            f"<td>Loc{(doc_id + i) % 7}</td><td>Dept{(doc_id + i) % 3}</td>"
            f'<td><a href="https://{_HTML_VENDOR_DOMAINS[v]}/job/{doc_id}/{i}">apply</a></td></tr>'
            for i in range(n)
        )
        return (
            "<html><body><h1>Open roles</h1>"
            "<table><tr><th>Title</th><th>Location</th><th>Department</th>"
            f"<th>Apply</th></tr>{rows}</table></body></html>"
        )
    return _ats_listing_page


_ats_listing_page = _make_ats_listing_page()


@register(
    "ats_html_vendor_jobs",
    tags=("source", "html", "pandas_udf"),
    doc="S5 HTML-tier ATS vendors (ref src/ats_extractor.py:718-750 "
    "iCIMS, :751-784 Workday, :785-813 Oracle Taleo, :843-869 Jobvite "
    "— all scraped from listing markup, no JSON API): templated "
    "vendor pages -> C18 job-card parse (mapInPandas) -> vendor "
    "detection on the extracted apply href -> the same normal form as "
    "ats_normalize_jobs. Completes the reference's 10-vendor "
    "dispatch (:871) across both execution tiers.",
    oracle="""
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 'icims' WHEN 1 THEN 'workday'
                 WHEN 2 THEN 'oracle' ELSE 'jobvite' END AS vendor,
               CASE doc_id % 4 WHEN 0 THEN 'IC' WHEN 1 THEN 'WD'
                 WHEN 2 THEN 'OR' ELSE 'JV' END
                 || ' Role ' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)
                 AS title,
               'Loc' || CAST((doc_id + i) % 7 AS VARCHAR) AS location,
               'Dept' || CAST((doc_id + i) % 3 AS VARCHAR) AS department,
               'https://' || CASE doc_id % 4
                 WHEN 0 THEN 'careers.icims.com/acme'
                 WHEN 1 THEN 'acme.myworkdayjobs.com/en-US'
                 WHEN 2 THEN 'acme.taleo.net/careersection'
                 ELSE 'jobs.jobvite.com/acme' END
                 || '/job/' || CAST(doc_id AS VARCHAR) || '/' || CAST(i AS VARCHAR)
                 AS url,
               CAST(NULL AS VARCHAR) AS job_id
        FROM documents, UNNEST(range(0, 1 + doc_id % 3)) AS t(i)
        ORDER BY doc_id, url
    """,
)
def ats_html_vendor_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from project_orbit_spark.functions.html_extract import (
        JOBS_SCHEMA,
        make_job_extractor,
        templated_extract,
    )

    d = load(spark, sf_dir, "documents").select("doc_id")
    cards = templated_extract(d, _ats_listing_page, make_job_extractor(), JOBS_SCHEMA)
    return (
        cards.filter(F.col("src") == "table")
        .select(
            "doc_id",
            detect_vendor(F.col("href")).alias("vendor"),
            "title",
            "location",
            "department",
            F.col("href").alias("url"),
            F.lit(None).cast("string").alias("job_id"),
        )
        .orderBy("doc_id", "url")
    )


@register(
    "greenhouse_board_discovery",
    tags=("source", "ats", "html"),
    doc="Greenhouse board-token discovery (ref src/ats_extractor.py:"
    "119-146): method 1 scans <script> bodies for the boardToken "
    "assignment (either quote style, ':' or '='), method 2 falls back "
    "to greenhouse.io iframe srcs' for= parameter, and a found token "
    "derives the boards-api jobs endpoint the reference then fetches "
    "(the fetch itself is the documented network seam). Templated "
    "pages rotate discovery method by doc_id%3 and carry decoys — a "
    "tokenless script everywhere and, on script pages, a "
    "boardToken-MENTIONING script whose assignment never matches "
    "(the r7 scan-all-scripts fix, driver-checked) plus a greenhouse "
    "iframe with a WRONG token — so the hash also pins the "
    "reference's script-before-iframe precedence. All JVM regex "
    "(regexp_extract_all + filter + get), no Python in the path.",
    oracle="""
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'script' WHEN 1 THEN 'iframe'
                    ELSE 'none' END AS method,
               CASE WHEN doc_id % 3 < 2 THEN 'board' || CAST(doc_id AS VARCHAR)
                    END AS board_token,
               CASE WHEN doc_id % 3 < 2
                    THEN 'https://boards-api.greenhouse.io/v1/boards/board'
                         || CAST(doc_id AS VARCHAR) || '/jobs'
                    END AS api_url
        FROM documents
        ORDER BY doc_id
    """,
)
def greenhouse_board_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id")
    tok = F.concat(F.lit("board"), F.col("doc_id").cast("string"))
    # script assignment rotates quote/operator style so both regex arms
    # of the reference pattern are exercised
    script_a = F.concat(F.lit('<script>var c={"boardToken":"'), tok, F.lit('"};</script>'))
    script_b = F.concat(F.lit("<script>boardToken = '"), tok, F.lit("';</script>"))
    token_script = F.when(F.col("doc_id") % 2 == 0, script_a).otherwise(script_b)
    decoy_script = F.lit("<script>var analytics = {ready: true};</script>")
    # mentions boardToken but never matches the assignment regex: the
    # r7 scan-ALL-scripts fix is what lets the real token script after
    # it win (a first-mention-only scan would fall through to the
    # WRONG iframe) — driver-checked on every variant-0 page
    mention_script = F.lit(
        "<script>if(!window.boardToken){console.warn('boardToken missing')}</script>"
    )
    gh_iframe = F.concat(
        F.lit('<iframe src="https://boards.greenhouse.io/embed/job_board?for='),
        tok,
        F.lit('&b=1"></iframe>'),
    )
    wrong_iframe = F.concat(
        F.lit('<iframe src="https://boards.greenhouse.io/embed/job_board?for=wrong'),
        F.col("doc_id").cast("string"),
        F.lit('"></iframe>'),
    )
    other_iframe = F.lit('<iframe src="https://maps.example.com/embed?q=hq"></iframe>')
    variant = F.col("doc_id") % 3
    html = F.concat(
        F.lit("<html><head>"),
        decoy_script,
        F.when(variant == 0, F.concat(mention_script, token_script, wrong_iframe))
        .when(variant == 1, F.concat(gh_iframe))
        .otherwise(other_iframe),
        F.lit("</head><body>Careers</body></html>"),
    )
    page = d.select("doc_id", html.alias("html"))

    return discover_greenhouse_board(page).orderBy("doc_id")


def discover_greenhouse_board(page: DataFrame) -> DataFrame:
    """Board-token discovery core over a (doc_id, html) frame — the
    expression pipeline the registered query templates into. Kept as
    a named function so the script-scanning semantics (regex across
    ALL boardToken-mentioning scripts, not just the first) are
    directly unit-testable on handcrafted pages."""
    scripts = F.regexp_extract_all("html", F.lit(r"(?s)<script[^>]*>(.*?)</script>"), 1)
    # the reference keeps scanning boardToken-mentioning scripts until
    # the assignment regex actually matches, so extract across ALL of
    # them and take the first non-empty match (not just the first
    # script that merely mentions the word)
    tok_pattern = r"""boardToken["']?\s*[:=]\s*["']([^"']+)["']"""
    token_matches = F.transform(
        F.filter(scripts, lambda s: s.contains("boardToken")),
        lambda s: F.regexp_extract(s, tok_pattern, 1),
    )
    script_token = F.get(F.filter(token_matches, lambda m: m != F.lit("")), 0)
    iframes = F.regexp_extract_all("html", F.lit(r'<iframe[^>]*src="([^"]*)"'), 1)
    first_gh = F.get(F.filter(iframes, lambda s: s.contains("greenhouse.io")), 0)
    iframe_token = F.nullif(F.regexp_extract(first_gh, r'for=([^&"]+)', 1), F.lit(""))
    token = F.coalesce(script_token, iframe_token)
    return page.select(
        "doc_id",
        F.when(script_token.isNotNull(), "script")
        .when(iframe_token.isNotNull(), "iframe")
        .otherwise("none")
        .alias("method"),
        token.alias("board_token"),
        F.when(
            token.isNotNull(),
            F.concat(
                F.lit("https://boards-api.greenhouse.io/v1/boards/"), token, F.lit("/jobs")
            ),
        ).alias("api_url"),
    )
