"""Reference-semantics edge parity (round-8 review findings).

Each case pins a divergence found by source-level comparison against
the reference (readability.ts / markdown.ts / turndown 7.2 +
turndown-plugin-gfm 1.0.2 semantics, versions from the reference's
package-lock).  The reference could not be EXECUTED in this sandbox
(no node_modules, no network), so these encode the behavior of the
cited source lines.
"""

from webpeel_spark.pure.mdemit import node_to_markdown
from webpeel_spark.dom import parse_html, document_body


def _md(html: str) -> str:
    return node_to_markdown(document_body(parse_html(html))).strip()


class TestBodyNoiseWalk:
    def test_noise_class_on_body_removes_everything(self):
        # readability.ts:313-314 walk(body): isNoise(body) runs on the
        # body element itself — <body class="modal-open"> matches
        # /\bmodal\b/ and the whole page is dropped
        from webpeel_spark.pure.readability import extract_readable_content

        page = ('<html><body class="modal-open"><article><h1>T</h1>'
                + "<p>Real article text here with plenty of words. </p>" * 10
                + "</article></body></html>")
        r = extract_readable_content(page, "https://x.com/a")
        assert "Real article text" not in (r.content or "")

    def test_clean_body_keeps_content(self):
        from webpeel_spark.pure.readability import extract_readable_content

        page = ('<html><body class="article-page"><article><h1>T</h1>'
                + "<p>Real article text here with plenty of words. </p>" * 10
                + "</article></body></html>")
        r = extract_readable_content(page, "https://x.com/a")
        assert "Real article text" in (r.content or "")


class TestTitleConcat:
    def test_svg_titles_concatenate(self):
        # readability.ts:191 $('title').text() joins EVERY title
        # element's text, including inline-SVG icon titles
        from webpeel_spark.pure.readability import extract_readable_content

        page = ("<html><head><title>Docs</title></head><body>"
                "<svg><title>Menu icon</title></svg>"
                "<article><p>Body text with some words in it.</p>"
                "</article></body></html>")
        r = extract_readable_content(page, "https://x.com/a")
        assert r.title == "DocsMenu icon"


class TestJsRound:
    def test_reading_time_half_up(self):
        # readability.ts:499 Math.round(500/200)=3; banker's round said 2
        from webpeel_spark.pure.readability import calc_reading_time

        assert calc_reading_time(500) == "3 min read"

    def test_quality_half_up(self):
        from webpeel_spark.pure.cli_helpers import _js_round

        assert _js_round(12.5) == 13
        assert _js_round(2.5) == 3
        assert _js_round(-2.5) == -2  # toward +inf, like Math.round


class TestTurndownEdges:
    def test_empty_href_emits_bare_text(self):
        # turndown inlineLink filter requires a TRUTHY href
        assert _md('<p><a href="">Sign in</a></p>') == "Sign in"
        assert _md('<p><a href="/x">Sign in</a></p>') == "[Sign in](/x)"

    def test_pre_with_whitespace_sibling_is_inline_code(self):
        # turndown hasSiblings counts whitespace text nodes (never
        # collapsed inside pre); the custom codeBlocks rule checks
        # firstChild, which here is the ' ' text node (markdown.ts:566)
        assert _md("<pre> <code>ls</code></pre>") == "`ls`"
        assert _md("<pre><code>ls</code></pre>") == "```\nls\n```"

    def test_ol_start_js_number_semantics(self):
        # turndown listItem: (start ? Number(start)+index : index+1)
        assert _md('<ol start="abc"><li>a</li></ol>').startswith("NaN.")
        assert _md('<ol start="3"><li>a</li><li>b</li></ol>').splitlines()[
            -1].startswith("4.")
        assert _md('<ol start="0"><li>a</li></ol>').startswith("0.")


class TestTableEdges:
    def test_rowless_table_raw_path_text_fallback(self):
        # gfm's table filter calls isHeadingRow(node.rows[0]) — a
        # rowless table throws and rawHtmlToMarkdown (markdown.ts:703-707,
        # no cleanHTML) falls back to $.text() whitespace-collapse of
        # the WHOLE page
        from webpeel_spark.pure.markdown import raw_html_to_markdown

        page = ("<html><body><h1>Head</h1><p>Hello world</p>"
                "<table><tbody></tbody></table></body></html>")
        assert raw_html_to_markdown(page) == "HeadHello world"

    def test_rowless_table_clean_path_is_layout_converted(self):
        # the CLEANED path never crashes: the layout-table pass
        # (markdown.ts:261-296, rowCount 0 → layout) replaces the
        # rowless table with an empty div before the converter runs
        from webpeel_spark.pure.markdown import html_to_markdown

        page = ("<html><body><h1>Head</h1><p>Hello world</p>"
                "<table><tbody></tbody></table></body></html>")
        assert html_to_markdown(page, prune=False) == "# Head\n\nHello world"

    def test_colspan_parseint_semantics(self):
        # parseInt('50%')=50 (capped at 6 dup cells); parseInt('abc')=NaN
        # → s < NaN false → ZERO cells pushed (markdown.ts:348)
        from webpeel_spark.pure.markdown import html_to_markdown

        t = ("<html><body><table>"
             "<tr><td>h1</td><td>h2</td><td>h3</td></tr>"
             "<tr><td colspan='50%'>X</td></tr>"
             "<tr><td colspan='abc'>Y</td><td>Z</td></tr>"
             "</table></body></html>")
        out = html_to_markdown(t, prune=False)
        assert "X · X · X" in out     # 50% → 50 → capped at 3 (list path)
        assert "Y" not in out         # NaN colspan → cell dropped
        assert "Z" in out

    def test_rebuild_interpolates_raw_cell_text(self):
        # markdown.ts:340-384 template literals interpolate cell text
        # RAW — '<'+letter re-parses as markup in the rebuilt fragment;
        # the old port escaped it, producing bytes the reference never
        # emits ('&lt;' / 'i\\<j')
        from webpeel_spark.pure.markdown import html_to_markdown

        t = ("<html><body><table>"
             "<tr><td>n1</td><td>n2</td></tr>"
             "<tr><td>i<j</td><td>ok</td></tr>"
             "<tr><td>a</td><td>b</td></tr>"
             "</table></body></html>")
        out = html_to_markdown(t, prune=False)
        assert "&lt;" not in out and "\\<" not in out


class TestAsciiRegexSemantics:
    def test_noise_boundary_matches_before_nonascii_letter(self):
        # JS /\bmenu\b/ without /u: 'ü' is a NON-word char, so
        # class="menuübersicht" matches (boundary between 'u' and 'ü');
        # Python's Unicode default treated 'ü' as a word char and kept
        # the node
        from webpeel_spark.pure.readability import NOISE_CLASS_PATTERNS

        assert any(p.search("menuübersicht") for p in NOISE_CLASS_PATTERNS)

    def test_chrome_pattern_ascii_boundary(self):
        from webpeel_spark.pure.pruner import CHROME_PATTERNS

        assert any(p.search("modalübersicht")
                   for p in CHROME_PATTERNS)  # boundary before 'ü'

    def test_cta_digit_class_is_ascii(self):
        # '٣ answers' (Arabic-Indic digit): JS ^\d+ does not match it,
        # so the line SURVIVES the CTA filter there — and now here
        from webpeel_spark.pure.markdown import _is_cta_noise_line

        assert not _is_cta_noise_line("٣ answers")
        assert _is_cta_noise_line("3 answers")

    def test_ordered_list_escape_ascii_digits(self):
        # turndown escapes /^(\d+)\. / with ASCII \d: '٣. x' is NOT
        # escaped by the reference
        from webpeel_spark.pure.mdemit import node_to_markdown
        from webpeel_spark.dom import parse_html, document_body

        out = node_to_markdown(document_body(parse_html(
            "<html><body><p>٣. x</p></body></html>")))
        assert "٣\\." not in out
        out2 = node_to_markdown(document_body(parse_html(
            "<html><body><p>3. x</p></body></html>")))
        assert "3\\." in out2


class TestTitleEmission:
    """Turndown re-parses a full document inside <x-turndown>: the
    <html>/<head>/<body> tokens dissolve (in-body parsing ignores
    them) but <title> stays in the tree and, having no rule, emits its
    text — reference markdown of an UNDETECTED page therefore starts
    with the page title (cleanHTML never removes <title>: it is not a
    junk selector and has text, markdown.ts:10-55,:398-405).  Detected
    pages convert a fragment with no head, so they are unaffected."""

    def test_undetected_page_markdown_starts_with_title(self):
        from webpeel_spark.pure.markdown import html_to_markdown

        page = ("<html><head><title>My Page</title></head>"
                "<body><p>Hi</p></body></html>")
        assert html_to_markdown(page, prune=False) == "My Page\n\nHi"

    def test_raw_path_emits_title_too(self):
        # rawHtmlToMarkdown (markdown.ts:693-718) also turndowns the
        # full $.html(), removing only script/style/noscript
        from webpeel_spark.pure.markdown import raw_html_to_markdown

        page = ("<html><head><title>My Page</title></head>"
                "<body><p>Hi</p></body></html>")
        assert raw_html_to_markdown(page) == "My Page\n\nHi"

    def test_detected_page_has_no_leading_title(self):
        from webpeel_spark.pure.pipeline import ExtractOptions, extract_page

        page = ("<html><head><title>My Page</title></head><body><article>"
                "<h1>Heading</h1>"
                + "<p>Substantial paragraph with plenty of words here.</p>"
                * 8 + "</article></body></html>")
        r = extract_page("https://x.com/a", page.encode(), ExtractOptions())
        assert r["method"] == "detected"
        assert not r["content"].startswith("My Page")

    def test_svg_title_text_emits(self):
        # svg has no turndown rule either: its <title> label text flows
        # into the output (an icon-accessibility artifact the reference
        # reproduces; title is no longer in the emitter's skip set)
        from webpeel_spark.pure.markdown import html_to_markdown

        page = ("<html><body><p>Before</p>"
                "<svg><title>Menu icon</title></svg>"
                "<p>After</p></body></html>")
        out = html_to_markdown(page, prune=False)
        assert "Menu icon" in out

    def test_title_text_is_markdown_escaped(self):
        from webpeel_spark.pure.markdown import html_to_markdown

        page = ("<html><head><title>A*B</title></head>"
                "<body><p>Hi</p></body></html>")
        assert html_to_markdown(page, prune=False) == "A\\*B\n\nHi"


class TestOutrankedEdges:
    """The review's 'verified but outranked' items, fixed and pinned."""

    def test_empty_tr_is_heading_row(self):
        # JS Array.every on EMPTY childNodes is true: a childless first
        # <tr> IS a heading row in gfm's isHeadingRow, so the table
        # passes the gfm filter and CONVERTS (the old len>0 guard made
        # it non-convertible and emitted raw <table> HTML).  gfm emits
        # no border cells for the empty heading — just the data row.
        from webpeel_spark.dom import document_body, parse_html
        from webpeel_spark.pure.mdemit import node_to_markdown

        t = ("<html><body><table><tr></tr>"
             "<tr><td>a</td><td>b</td></tr></table></body></html>")
        out = node_to_markdown(document_body(parse_html(t))).strip()
        assert out == "| a | b |"
        assert "<table>" not in out

    def test_highlight_div_requires_pre_as_firstchild(self):
        # gfm highlightedCodeBlock checks node.firstChild (ANY node):
        # non-whitespace text before the <pre> defeats the rule
        from webpeel_spark.dom import document_body, parse_html
        from webpeel_spark.pure.mdemit import node_to_markdown

        fenced = node_to_markdown(document_body(parse_html(
            '<html><body><div class="highlight-source-py">'
            "<pre>x = 1</pre></div></body></html>")))
        assert "```py" in fenced
        defeated = node_to_markdown(document_body(parse_html(
            '<html><body><div class="highlight-source-py">intro'
            "<pre>x = 1</pre></div></body></html>")))
        assert "```py" not in defeated

    def test_ldjson_null_element_aborts_that_script(self):
        # readability.ts:254-266 — obj.datePublished on null THROWS and
        # the catch abandons the whole script's array; a later script
        # still gets its chance
        from webpeel_spark.pure.readability import extract_readable_content

        page = ("<html><head>"
                '<script type="application/ld+json">'
                '[null, {"datePublished": "2024-01-01"}]</script>'
                '<script type="application/ld+json">'
                '{"datePublished": "2024-02-02"}</script>'
                "</head><body><article><p>Body words here now.</p>"
                "</article></body></html>")
        r = extract_readable_content(page, "https://x.com/a")
        assert r.date == "2024-02-02"  # first script aborted, second won


class TestWhatwgUrls:
    """extractLinks/extractImages absolutize with new URL(href, base)
    (metadata.ts:259/:303) — WHATWG normalization RFC-3986 urljoin
    does not apply; link_pairs (links.ts:39-41) normalizes only the
    relative branch, keeping case-sensitively-absolute hrefs verbatim."""

    def test_absolute_hrefs_normalize_and_dedupe(self):
        from webpeel_spark.pure.metadata import extract_links

        page = ('<html><body>'
                '<a href="https://Example.com">a</a>'
                '<a href="https://example.com/">b</a>'
                "</body></html>")
        assert extract_links(page, "http://base.com/") == \
            ["https://example.com/"]

    def test_relative_href_percent_encodes(self):
        from webpeel_spark.pure.metadata import extract_links

        page = '<html><body><a href="page with space.html">x</a></body></html>'
        assert extract_links(page, "http://a.com/dir/") == \
            ["http://a.com/dir/page%20with%20space.html"]

    def test_backslash_acts_as_slash(self):
        from webpeel_spark.pure.urlfast import whatwg_urljoin

        assert whatwg_urljoin("http://a.com/", "\\foo") == "http://a.com/foo"

    def test_invalid_base_drops_all_links(self):
        # new URL(href, base) parses the base FIRST: an invalid base
        # throws per element, so every link drops — absolute or not
        from webpeel_spark.pure.metadata import extract_links

        page = '<html><body><a href="https://x.com/ok">x</a></body></html>'
        assert extract_links(page, "not a url") == []

    def test_link_pairs_keep_absolute_verbatim(self):
        from webpeel_spark.pure.links import extract_link_pairs

        page = ('<html><body><a href="https://Example.com/KeepCase">x</a>'
                '<a href="sub dir/p.html">y</a></body></html>')
        pairs = {p["url"] for p in
                 extract_link_pairs(page, "http://a.com/base/")}
        assert "https://Example.com/KeepCase" in pairs       # verbatim
        assert "http://a.com/base/sub%20dir/p.html" in pairs  # normalized


class TestJsonLdRobustness:
    def test_object_in_cuisine_list_stringifies(self):
        # json-ld.ts:552 Array.join → '[object Object]', never a crash
        import json

        from webpeel_spark.pure.jsonld import extract_jsonld

        ld = {"@type": "Restaurant", "name": "X",
              "servesCuisine": ["Thai", {"name": "Fusion"}]}
        page = ('<html><head><script type="application/ld+json">'
                + json.dumps(ld) + "</script></head><body></body></html>")
        r = extract_jsonld(page)
        assert r is not None
        assert "Thai, [object Object]" in r.content

    def test_dict_at_type_falls_through(self):
        # switch(typeStr) on an object matches nothing — no crash
        import json

        from webpeel_spark.pure.jsonld import extract_jsonld

        page = ('<html><head><script type="application/ld+json">'
                + json.dumps([{"@type": [{"bad": 1}], "name": "X"},
                              {"@type": "Article", "headline": "Real",
                               "articleBody": "Body words. " * 30}])
                + "</script></head><body></body></html>")
        r = extract_jsonld(page)
        assert r is not None and r.title == "Real"

    def test_offer_price_parsefloat(self):
        # parseFloat('99 USD')=99 beats 120 (json-ld.ts:316)
        import json

        from webpeel_spark.pure.jsonld import extract_jsonld

        ld = {"@type": "Product", "name": "X",
              "offers": [{"price": "120", "priceCurrency": "USD"},
                         {"price": "99 USD"}]}
        page = ('<html><head><script type="application/ld+json">'
                + json.dumps(ld) + "</script></head><body></body></html>")
        r = extract_jsonld(page)
        assert r is not None and "99 USD" in r.content

    def test_object_valued_field_never_leaks_python_repr(self):
        from webpeel_spark.pure.jsonld import _str

        assert _str({"name": {"@value": "X"}}) == ""
        assert _str([4, "4 servings"]) == "4,4 servings"


class TestMetadataEdges:
    def test_rfc2822_publish_date(self):
        from webpeel_spark.pure.metadata import js_to_iso

        assert js_to_iso("Tue, 15 Aug 2023 10:00:00 GMT") == \
            "2023-08-15T10:00:00.000Z"
        assert js_to_iso("2021") == "2021-01-01T00:00:00.000Z"
        assert js_to_iso("2023-1-5") == "2023-01-05T00:00:00.000Z"

    def test_zero_dimension_image_reports_none(self):
        # `width && !isNaN(width)`: 0 is falsy (metadata.ts:322)
        from webpeel_spark.pure.metadata import extract_images

        ims = extract_images(
            '<html><body><img src="/a.png" width="0" height="0">'
            "</body></html>", "http://a.com/")
        assert ims[0].width is None and ims[0].height is None

    def test_title_concatenates_all_title_elements(self):
        from webpeel_spark.dom import parse_html
        from webpeel_spark.pure.metadata import extract_title

        root = parse_html(
            "<html><head><title>News Site</title></head><body>"
            "<svg><title>menu</title></svg></body></html>")
        assert extract_title(root) == "News Sitemenu"


class TestSelectorBacktracking:
    def test_sibling_chain_backtracks(self):
        from webpeel_spark.dom import parse_html, select

        root = parse_html('<html><body><x></x><b id="b1"></b>'
                          '<b id="b2"></b><c></c></body></html>')
        assert [e.tag for e in select(root, "x + b ~ c")] == ["c"]

    def test_descendant_chain_backtracks(self):
        from webpeel_spark.dom import parse_html, select

        root = parse_html("<html><body><a><b><div><b><p>t</p></b>"
                          "</div></b></a></body></html>")
        assert [e.tag for e in select(root, "a > b p")] == ["p"]


class TestPostExtractionTier:
    def test_bm25_tokenize_ascii_word_class(self):
        # bm25-filter.ts:53 strips [^\w\s] with ASCII \w: accented and
        # CJK letters are separators there, never token characters
        from webpeel_spark.pure.bm25_filter import tokenize

        assert tokenize("café résumé 北京") == ["caf", "r", "sum"]

    def test_chunker_falsy_options_coerce_to_defaults(self):
        # chunker.ts:55-57 `options.overlap || DEFAULT_OVERLAP`:
        # overlap=0 means the 50-token default, not zero overlap
        from webpeel_spark.pure.chunker import chunk_content

        para = ("Twelve ordinary words fill this sentence up nicely "
                "for the test. ")
        content = "\n\n".join([para * 12] * 6)
        zero = chunk_content(content, overlap=0)
        default = chunk_content(content)
        assert [c.text for c in zero] == [c.text for c in default]
        assert len(zero) > 1

    def test_auto_extract_error_results_are_isolated(self):
        from webpeel_spark.pure.auto_extract import _EMPTY_RESULTS, auto_extract
        from unittest.mock import patch

        with patch("webpeel_spark.pure.auto_extract.detect_page_type",
                   side_effect=["contact", "contact"]), \
             patch("webpeel_spark.pure.auto_extract._extract_contact",
                   side_effect=RuntimeError("boom")):
            r1 = auto_extract("<html><body>x</body></html>", "http://a.com")
            r1["emails"].append("polluted@example.com")
            r2 = auto_extract("<html><body>x</body></html>", "http://a.com")
        assert r2["emails"] == []
        assert _EMPTY_RESULTS["contact"]["emails"] == []

    def test_listings_digit_classes_ascii(self):
        # /^\d+\.?$/ with JS ASCII \d keeps an Arabic-Indic-digit title
        from webpeel_spark.pure.listings import is_header_or_junk

        assert is_header_or_junk("1234")
        assert not is_header_or_junk("١٢٣٤")  # len>3, not ASCII digits


class TestStructuralParsers:
    def test_generic_host_tries_all_job_parsers(self):
        # jobs.ts:662-668: unknown hosts fall through linkedin →
        # glassdoor → indeed → upwork until one yields jobs
        from webpeel_spark.pure.jobs import parse_job_search

        md = ("# 10 jobs\n"
              "\n- [Engineer](https://www.linkedin.com/jobs/view/123)\n"
              "  ### Engineer\n  #### [Acme](https://a.com)\n"
              "  New York, NY 2 days ago\n")
        out = parse_job_search(md, "https://jobs.smallboard.io/search")
        assert out["source"] == "generic"
        assert len(out["jobs"]) == 1

    def test_comma_only_total_degrades_not_crashes(self):
        # parseInt('') is NaN → jobs.length fallback (jobs.ts:157)
        from webpeel_spark.pure.jobs import parse_linkedin

        out = parse_linkedin("# , results for you\n", "https://x.com")
        assert out["totalFound"] == 0

    def test_encode_uri_component_semantics(self):
        from webpeel_spark.pure.jobs import build_search_url

        url = build_search_url("indeed", "UI/UX (senior)", "St. John's")
        assert "q=UI%2FUX%20(senior)" in url
        assert "l=St.%20John's" in url

    def test_schema_rating_parsefloat_prefix(self):
        # business-intel.ts:209-210 parseFloat/parseInt with || 0
        import json

        from webpeel_spark.pure.business_intel import extract_schema_org_data

        page = ('<html><head><script type="application/ld+json">'
                + json.dumps({"@type": "Organization", "name": "X",
                              "numberOfEmployees": {"minValue": None,
                                                    "maxValue": 50},
                              "aggregateRating": {
                                  "ratingValue": "4.5 out of 5",
                                  "reviewCount": "1,234"}})
                + "</script></head></html>")
        r = extract_schema_org_data(page)
        assert r["employees"] == "–50"  # minValue ?? '' catches null
        assert r["reviews"] == [{"source": "Schema.org",
                                 "rating": 4.5, "count": 1}]

    def test_sitemap_priority_parsefloat(self):
        from webpeel_spark.pure.sitemap import parse_sitemap_xml

        xml = ('<urlset><url><loc>http://a.com/</loc>'
               "<priority>0.5x</priority></url>"
               "<url><loc>http://a.com/b</loc>"
               "<priority>high</priority></url></urlset>")
        urls = parse_sitemap_xml(xml)["urls"]
        assert urls[0]["priority"] == 0.5   # numeric prefix
        assert urls[1]["priority"] is None  # NaN → JSON null, key kept

    def test_observe_uppercase_input_type(self):
        # browser: [type="submit"] matches case-insensitively and
        # HTMLInputElement.type lowercases (observe.ts:220,316)
        from webpeel_spark.pure.observe import observe_html

        r = observe_html('<html><body><form>'
                         '<input TYPE="SUBMIT" value="Go"></form>'
                         "</body></html>", "http://a.com")
        assert len(r["elements"]["buttons"]) == 1
        btn = r["elements"]["buttons"][0]
        assert btn["role"] == "submit"
        assert btn["attributes"]["type"] == "submit"
        assert r["elements"]["inputs"] == []

    def test_featured_snippet_without_container_has_empty_source(self):
        # closest() yields an empty set → find() on it finds nothing →
        # source/sourceUrl '' (google-serp-parser.ts:225-235)
        from webpeel_spark.pure.serp import parse_google_serp

        html = ('<html><body><div><div class="c2xzTb">'
                + "A long enough answer text for the snippet here. "
                '<a href="http://example.com/x"><cite>example.com</cite>'
                "</a></div></div></body></html>")
        snip = parse_google_serp(html)["featured_snippet"]
        assert snip["source"] == "" and snip["source_url"] == ""

    def test_local_pack_zero_rating_dropped(self):
        # parseFloat(...) || undefined: falsy ZERO drops the key
        from webpeel_spark.pure.serp import parse_google_serp

        html = ('<html><body><div class="VkpGBb">'
                '<div class="dbg0pd">Zero Cafe</div>'
                '<span class="MW4etd">0.0</span>'
                '<span class="UY7F9">(0)</span></div></body></html>')
        out = parse_google_serp(html)
        lp = out.get("local_pack", [])
        if lp:  # reached the local-pack parser
            assert "rating" not in lp[0]
            assert "review_count" not in lp[0]


class TestNumberLocaleParity:
    """Number(x).toLocaleString('en-US') shim vs recorded Node v20
    values (round 9): Intl caps fractions at 3 digits, rounds half
    away from zero on the SHORTEST decimal repr of the double
    (999.9995 → '1,000' though the binary value is 999.99949…), and
    keeps the sign through a round-to-zero ('-0.0001' → '-0')."""

    NODE_CASES = [
        ("1234.5678", "1,234.568"), ("1234.5", "1,234.5"),
        ("0.125", "0.125"), ("1234567", "1,234,567"), ("12.0", "12"),
        ("-1234.5678", "-1,234.568"), ("0.00005", "0"),
        ("-0.5", "-0.5"), ("-0.0001", "-0"), ("1234.0005", "1,234.001"),
        ("999.9995", "1,000"), ("0.9995", "1"), ("abc", "NaN"),
        ("1e21", "1,000,000,000,000,000,000,000"), (None, "NaN"),
        ("449000", "449,000"),
    ]

    def test_node_values(self):
        from webpeel_spark.pure.extractors.shared_util import js_number_locale

        for s, want in self.NODE_CASES:
            assert js_number_locale(s) == want, (s, want, js_number_locale(s))
