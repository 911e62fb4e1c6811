"""Messy-HTML edge cases for the C16/C18/C19 extractor family —
the parsers are exercised directly on handcrafted pages (uppercase
tags, unclosed elements, missing attributes, malformed JSON-LD),
independent of the templated-corpus oracle path."""

from __future__ import annotations

import pandas as pd

from project_orbit_spark.functions.html_extract import (
    make_article_extractor,
    make_job_extractor,
    make_meta_extractor,
)


def run(extractor, html: str) -> pd.DataFrame:
    batches = iter([pd.DataFrame({"doc_id": [1], "html": [html]})])
    return pd.concat(list(extractor(batches)), ignore_index=True)


def run_all(extractor, htmls: list[str]) -> pd.DataFrame:
    batches = iter(
        [pd.DataFrame({"doc_id": list(range(len(htmls))), "html": htmls})]
    )
    out = list(extractor(batches))
    return (
        pd.concat(out, ignore_index=True)
        if out
        else pd.DataFrame(columns=["doc_id"])
    )


class TestMetaExtractor:
    def test_uppercase_tags_and_attrs(self):
        # html.parser lowercases tag/attr NAMES; values keep case
        html = (
            '<HTML LANG="en-US"><HEAD>'
            '<META PROPERTY="og:title" CONTENT="Big Story">'
            '<LINK REL="canonical" HREF="https://ex.com/a">'
            "</HEAD></HTML>"
        )
        row = run(make_meta_extractor(), html).iloc[0]
        assert row["lang_attr"] == "en-US"
        assert row["og_title"] == "Big Story"
        assert row["canonical"] == "https://ex.com/a"

    def test_missing_content_attrs_default_empty(self):
        html = '<html><head><meta name="author"><meta property="og:image"></head></html>'
        row = run(make_meta_extractor(), html).iloc[0]
        assert row["author"] == ""
        assert row["og_image"] == ""
        assert row["n_keywords"] == 0

    def test_keywords_whitespace_and_empties_dropped(self):
        html = '<meta name="keywords" content=" a , ,b,, c ">'
        assert run(make_meta_extractor(), html).iloc[0]["n_keywords"] == 3

    def test_last_meta_wins_and_unclosed_head(self):
        html = (
            '<html lang="fr"><head><meta name="robots" content="index">'
            '<meta name="robots" content="noindex"><body>unclosed head'
        )
        row = run(make_meta_extractor(), html).iloc[0]
        assert row["robots"] == "noindex"
        assert row["lang_attr"] == "fr"


class TestJobExtractor:
    def test_table_without_job_headers_ignored(self):
        html = (
            "<table><tr><th>Qty</th><th>Price</th></tr>"
            "<tr><td>3</td><td>9.99</td></tr></table>"
        )
        assert run_all(make_job_extractor(), [html]).empty

    def test_unclosed_rows_and_mixed_case(self):
        html = (
            "<TABLE><TR><TH>Title</TH><TH>Location</TH>"
            "<TR><TD>Dev</TD><TD>Berlin</TD>"
            "<TR><TD>SRE</TD><TD>Lyon</TD></TABLE>"
        )
        out = run(make_job_extractor(), html)
        assert list(out["title"]) == ["Dev", "SRE"]
        assert list(out["location"]) == ["Berlin", "Lyon"]

    def test_link_jobs_require_len_gate_and_job_href(self):
        html = (
            '<a href="/job/1">short</a>'  # too short
            '<a href="/about">Senior Platform Engineer</a>'  # wrong href
            '<a href="/job/2">Senior Platform Engineer</a>'  # valid
        )
        out = run(make_job_extractor(), html)
        assert len(out) == 1
        assert out.iloc[0]["href"] == "/job/2"
        assert out.iloc[0]["src"] == "link_pattern"

    def test_apply_links_inside_tables_not_double_counted(self):
        html = (
            "<table><tr><th>Title</th><th>Location</th></tr>"
            '<tr><td>Lead Data Engineer Role</td><td>Oslo</td>'
            '<td><a href="/job/9/0">apply</a></td></tr></table>'
        )
        out = run(make_job_extractor(), html)
        assert len(out) == 1  # table row only; its <a> is not a link-job too
        assert out.iloc[0]["src"] == "table"
        assert out.iloc[0]["href"] == "/job/9/0"


class TestArticleExtractor:
    def test_jsonld_beats_og_beats_title(self):
        html = (
            '<script type="application/ld+json">'
            '{"@type": "Article", "headline": "JL"}</script>'
            '<meta property="og:title" content="OG"><title>TT</title>'
        )
        assert run(make_article_extractor(), html).iloc[0]["title"] == "JL"

    def test_malformed_jsonld_falls_back_to_og(self):
        html = (
            '<script type="application/ld+json">{not json]</script>'
            '<meta property="og:title" content="OG"><title>TT</title>'
        )
        row = run(make_article_extractor(), html).iloc[0]
        assert row["title"] == "OG"
        assert row["title_src"] == "opengraph"

    def test_jsonld_author_as_plain_string(self):
        html = (
            '<script type="application/ld+json">'
            '{"@type": "NewsArticle", "headline": "H", "author": "Ann"}</script>'
        )
        assert run(make_article_extractor(), html).iloc[0]["author"] == "Ann"

    def test_wrong_type_jsonld_ignored(self):
        html = (
            '<script type="application/ld+json">'
            '{"@type": "Organization", "name": "Acme"}</script><title>TT</title>'
        )
        row = run(make_article_extractor(), html).iloc[0]
        assert row["title"] == "TT"
        assert row["title_src"] == "title_tag"

    def test_word_count_and_reading_time_floor(self):
        words = " ".join(["w"] * 401)
        html = f"<article><p>{words}</p></article><title>T</title>"
        row = run(make_article_extractor(), html).iloc[0]
        assert row["word_count"] == 401
        assert row["reading_time"] == 2

    def test_empty_article_reading_time_min_one(self):
        html = "<title>T</title>"
        row = run(make_article_extractor(), html).iloc[0]
        assert row["word_count"] == 0
        assert row["reading_time"] == 1


class TestBlockProfiler:
    def test_nested_divs_attribute_to_outer_block(self):
        from project_orbit_spark.functions.html_extract import make_block_profiler

        html = (
            '<div class="main"><div class="inner"><p>abcde</p></div>'
            '<a href="/x">fg</a></div>'
        )
        out = run(make_block_profiler(), html)
        # one top-level block; inner div text counts toward it
        assert len(out) == 1
        row = out.iloc[0]
        assert row["block"] == "main"
        assert row["text_len"] == 7  # 'abcde' + 'fg'
        assert row["link_len"] == 2

    def test_link_outside_any_block_ignored_and_classless_div(self):
        from project_orbit_spark.functions.html_extract import make_block_profiler

        html = '<a href="/out">zz</a><div><p>hi</p></div>'
        out = run(make_block_profiler(), html)
        assert len(out) == 1
        row = out.iloc[0]
        assert row["block"] == ""
        assert row["text_len"] == 2
        assert row["link_len"] == 0

    def test_unclosed_div_still_counts_after_feed(self):
        from project_orbit_spark.functions.html_extract import make_block_profiler

        # html.parser never emits the missing </div>; the block stays
        # open and is dropped — the profiler must not crash, and closed
        # earlier blocks survive
        html = '<div class="a"><span>xy</span></div><div class="b"><p>rest'
        out = run(make_block_profiler(), html)
        assert list(out["block"]) == ["a"]
        assert out.iloc[0]["text_len"] == 2

    def test_unclosed_anchor_does_not_leak_into_next_block(self):
        from project_orbit_spark.functions.html_extract import make_block_profiler

        # the <a> in block 'a' is never closed; block 'b' has no links,
        # so its link_len must be 0 (no attribution leak across blocks)
        html = (
            '<div class="a"><a href="/x">ab</div>'
            '<div class="b"><p>cdef</p></div>'
        )
        out = run(make_block_profiler(), html)
        assert list(out["block"]) == ["a", "b"]
        assert out.iloc[0]["link_len"] == 2
        assert out.iloc[1]["link_len"] == 0


class TestTemplateEscaping:
    def test_readability_page_survives_metacharacters(self):
        from project_orbit_spark.functions.html_extract import (
            _readability_page,
            make_block_profiler,
        )

        # '&amp;'-like sequences and raw '<' in corpus text must not
        # change parsed text length vs the oracle's length(text)+4
        text = "AT&T <3 R&D &amp; fish"
        out = run(make_block_profiler(), _readability_page(1, text))
        content = out[out["block"] == "content"].iloc[0]
        assert content["text_len"] == len(text) + 4  # + 'more'
        assert content["link_len"] == 4

    def test_article_page_survives_metacharacters(self):
        from project_orbit_spark.functions.html_extract import (
            _article_page,
            make_article_extractor,
        )

        text = "5 < 7 & 7 > 5 &copy; twice"
        row = run(make_article_extractor(), _article_page(2, text)).iloc[0]
        assert row["word_count"] == len(text.split())


class TestTagSoupFuzz:
    """Hypothesis tag-soup fuzz: every extractor in the family must
    TOTAL-FUNCTION over arbitrary interleavings of broken markup —
    never raise, and every frame it yields carries exactly its face's
    schema columns and converts to that schema's Arrow types (the
    empty frame included) — because at 100 TB a parser that throws on
    one page kills a 10^5-row Arrow batch with it (the reference leans
    on BeautifulSoup's tolerance, src/scraper_v2.py:120-466; the stdlib
    state machines must earn the same property)."""

    def _soup(self, draw_bits: list[str]) -> str:
        return "".join(draw_bits)

    def test_extractors_never_raise_on_tag_soup(self):
        import pyarrow as pa
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from project_orbit_spark.functions import html_extract as hx

        # (factory, schema, one row out per page in?)
        family = [
            (hx.make_html_extractor, hx.EXTRACT_SCHEMA, True),
            (hx.make_meta_extractor, hx.META_SCHEMA, True),
            (hx.make_article_extractor, hx.ARTICLE_SCHEMA, True),
            (hx.make_job_extractor, hx.JOBS_SCHEMA, False),
            (hx.make_block_profiler, hx.BLOCK_SCHEMA, False),
            (hx.make_class_pattern_job_extractor, hx.CLASS_JOBS_SCHEMA, False),
            (hx.make_nav_extractor, hx.NAV_SCHEMA, False),
            (hx.make_link_inventory_extractor, hx.LINKS_SCHEMA, False),
            (hx.make_table_extractor, hx.TABLES_SCHEMA, False),
            (hx.make_form_extractor, hx.FORMS_SCHEMA, False),
            (hx.make_image_inventory_extractor, hx.IMAGES_SCHEMA, False),
            (hx.make_text_structure_extractor, hx.TEXT_STRUCT_SCHEMA, False),
            (hx.make_script_inventory_extractor, hx.SCRIPTS_SCHEMA, False),
            (hx.make_pricing_page_parser, hx.PRICING_SCHEMA, False),
            (hx.make_customer_partner_parser, hx.MENTIONS_SCHEMA, False),
            (hx.make_team_extractor, hx.TEAM_SCHEMA, False),
        ]
        arrow = {"long": pa.int64(), "string": pa.string()}

        def fields(schema: str) -> list[tuple[str, pa.DataType]]:
            return [(n, arrow[t]) for n, t in (f.split() for f in schema.split(","))]

        frag = st.sampled_from(
            [
                "<div>", "</div>", "<p>", "</p>", "<a href='x'>", "</a>",
                "<A HREF=x>", "<title>", "</title>", "<meta name=description>",
                "<meta name='description' content='d'>", "<h1>", "</h2>",
                "<table>", "<tr><td>", "</table>", "<script type=application/ld+json>",
                "{not json", "</script>", "text ", "&amp;", "&bogus;", "<",
                ">", "<!---->", "<!--", "<![CDATA[x]]>", "<br/>", "<img src>",
                "<nav>", "</nav>", "<nav/>", "<footer>", "</footer>",
                "<ol class='breadcrumb'>", "<ul>", "</ul>", "<li>", "</li>",
                "<thead>", "<tbody>", "<th>", "<caption>", "</caption>",
                "<form action='/f'>", "</form>", "<input name=q id=q required>",
                "<label for=q>", "</label>", "<img data-src=/i.png alt='Acme logo'>",
                "<div class='price-card'>", "<section class='tier'>", "</section>",
                "<div class='team-member'>", "<h3 class='member-name'>", "</h3>",
                "<li class='job-listing' data-job-id=J1>", "<span class=location>",
                "<ul class='customer-grid'>", "<blockquote>", "<pre>", "</pre>",
                "Pro $29 ", "Ada Lovelace ", "<script async src=/s.js>",
                # valueless attributes: html.parser reports their value as None
                "<div class>", "<a href>", "<img src=/v.png alt class>", "<form method>",
                "<input type>", "<meta name=keywords content>", "<meta property content>",
                "<html lang>", "<link rel=canonical href>", "<label for>",
            ]
        )

        @settings(max_examples=40, deadline=None)
        @given(st.lists(frag, min_size=0, max_size=40))
        def check(bits):
            pdf = pd.DataFrame(
                {"doc_id": [1], "base_url": ["https://co1.com/products/page"],
                 "html": [self._soup(bits)]}
            )
            for maker, schema, per_page in family:
                out = list(maker()(iter([pdf])))
                if per_page:
                    assert sum(map(len, out)) == 1, maker.__name__
                for frame in out:
                    assert [n for n, _ in fields(schema)] == list(frame.columns), maker.__name__
                    for name, typ in fields(schema):
                        pa.Array.from_pandas(frame[name], type=typ)

        check()


def test_nav_extractor_region_scoping_on_messy_html():
    import pandas as pd

    from project_orbit_spark.functions.html_extract import make_nav_extractor

    html = (
        "<body>"
        "<nav><a href='/a'>A<b>!</b></a></nav>"          # nested inline tag in text
        "<a href='/outside'>skip</a>"                     # outside all regions
        "<footer><a href='x'>First Footer</a></footer>"
        "<footer><a href='/second'>Second Footer</a></footer>"  # ref takes FIRST only
        "<ul class='breadcrumb'><a href='/b1'>B1</a></ul>"
        "<ol class='breadcrumb'><a href='/b2'>B2</a></ol>"      # first container only
        "</body>"
    )
    pdf = pd.DataFrame(
        {"doc_id": [1], "base_url": ["https://x.com/p/q"], "html": [html]}
    )
    out = pd.concat(list(make_nav_extractor()(iter([pdf]))))
    rows = {(r.region, r.text): r.href for r in out.itertuples()}
    assert rows[("main_nav", "A!")] == "https://x.com/a"
    assert rows[("footer", "First Footer")] == "https://x.com/p/x"  # page-relative join
    assert ("footer", "Second Footer") not in rows
    assert rows[("breadcrumbs", "B1")] == "https://x.com/b1"
    assert ("breadcrumbs", "B2") not in rows
    assert not [k for k in rows if k[1] == "skip"]


def test_table_extractor_first_row_headers_inside_tbody():
    import pandas as pd

    from project_orbit_spark.functions.html_extract import make_table_extractor

    # no <thead> but rows wrapped in <tbody>: the first row still
    # serves as headers and must be skipped from the data rows
    html = (
        "<table><tbody>"
        "<tr><th>H1</th><th>H2</th></tr>"
        "<tr><td>a</td><td>b</td></tr>"
        "</tbody></table>"
    )
    pdf = pd.DataFrame({"doc_id": [1], "html": [html]})
    out = pd.concat(list(make_table_extractor()(iter([pdf]))))
    headers = out[out.kind == "header"]["value"].tolist()
    cells = out[out.kind == "cell"]["value"].tolist()
    assert headers == ["H1", "H2"]
    assert cells == ["a", "b"], "first row must not reappear as data"


def test_team_validation_ladder():
    from project_orbit_spark.functions.html_extract import is_valid_team_member

    assert is_valid_team_member("Ada Lovelace")
    assert is_valid_team_member("Jean Luc P Picard")          # 4 words ok
    assert not is_valid_team_member("Plato")                  # no space
    assert not is_valid_team_member("San Francisco Office")   # exclude keyword
    assert not is_valid_team_member("van der Berg")           # lowercase start
    assert not is_valid_team_member("A B C D E")              # >4 words
    assert not is_valid_team_member("Jo")                     # <3 chars
    assert not is_valid_team_member("John Smith", role="Engineering Office Lead")
    assert is_valid_team_member("John Smith", role="Staff Engineer")


TEMPLATED_FACES = (
    "html_meta_inventory", "html_job_cards", "html_article_extract",
    "html_main_text", "html_class_pattern_jobs", "nav_structure_extract",
    "html_link_inventory", "html_table_extract", "html_form_extract",
    "html_image_inventory", "html_text_structure", "html_script_inventory",
    "pricing_page_parse", "customer_partner_mentions", "team_page_extract",
    "ats_html_vendor_jobs",
)

_LOAD_EACH = """
import pickle, sys
try:
    import project_orbit_spark
except ImportError:
    print("NO_PACKAGE")
for path in sys.argv[1:]:
    try:
        with open(path, "rb") as fh:
            pickle.load(fh)
        print("OK", path)
    except Exception as e:
        print("FAIL", path, type(e).__name__)
"""


def test_templated_faces_pickle_by_value(spark, tmp_path, monkeypatch):
    """Python workers started from a foreign cwd cannot import this
    package: each face's mapInPandas function must unpickle there. The
    module-level make_html_extractor, which cloudpickle pickles by
    reference, is the control that must not."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from project_orbit_spark import registry
    from project_orbit_spark.functions.html_extract import make_html_extractor
    from tests.conftest import SF_DIR

    cls = type(spark.range(1))
    real = cls.mapInPandas
    captured: dict[str, list] = {}

    def capture(self, func, schema, *args, **kwargs):
        captured[name].append(func)
        return real(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInPandas", capture)
    paths = []
    for name in TEMPLATED_FACES:
        captured[name] = []
        registry.get_query(name).fn(spark, SF_DIR)  # builds the plan only
        assert len(captured[name]) == 1, name
        path = tmp_path / f"{name}.pkl"
        path.write_bytes(cloudpickle.dumps(captured[name][0]))
        paths.append(str(path))
    control = tmp_path / "control.pkl"
    control.write_bytes(cloudpickle.dumps(make_html_extractor))

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _LOAD_EACH, *paths, str(control)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    ).stdout.splitlines()
    assert out[0] == "NO_PACKAGE", out
    assert out[1:-1] == [f"OK {p}" for p in paths], out
    assert out[-1] == f"FAIL {control} ModuleNotFoundError", out
