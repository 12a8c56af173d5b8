"""Lite mode — ported case-for-case from the reference suite
/root/reference/src/tests/lite-mode.test.ts (the suite mocks only
smartFetch; the behavior under test — pipeline.ts:895-911 dispatch +
the postProcess early-return at :1236 — is a pure function of the
page bytes, so it ports to extract_page directly).

Plus the round-7 byte-identity pins: lite+markdown output must equal
``html_to_markdown(select_content(...), prune=False)`` byte-for-byte,
and the standard-path selector projection (pipeline.ts:994-1016)."""

from webpeel_spark.pure import markdown as md
from webpeel_spark.pure.pipeline import ExtractOptions, extract_page

# the smartFetch mock's html, verbatim (lite-mode.test.ts:15-33)
PAGE_HTML = """
        <html>
          <head>
            <title>Lite Mode Test Page</title>
            <meta name="description" content="A test page for lite mode." />
          </head>
          <body>
            <nav>Navigation that would normally be pruned</nav>
            <article>
              <h1>Main Article Heading</h1>
              <p>This is the main content of the page. It has enough text to be useful for testing purposes.</p>
              <p>Second paragraph with more content that makes the page substantial enough for testing.</p>
            </article>
            <footer>Footer content that would normally be pruned</footer>
          </body>
        </html>
      """

URL = "https://example.com"


def peel_lite(**kw):
    return extract_page(URL, PAGE_HTML.encode(), ExtractOptions(lite=True, **kw))


class TestLiteMode:
    def test_returns_content_in_lite_mode(self):
        result = peel_lite()
        assert result["content"]
        assert len(result["content"]) > 0
        assert result["url"] == URL

    def test_lite_mode_extracts_the_title(self):
        assert peel_lite()["title"] == "Lite Mode Test Page"

    def test_lite_mode_returns_markdown_content(self):
        result = peel_lite()
        assert "Main Article Heading" in result["content"]
        assert "main content" in result["content"]

    def test_lite_mode_does_not_compute_quality(self):
        # quality is pinned 0.5 (unknown), not calculated (pipeline.ts:910)
        assert peel_lite()["quality"] == 0.5

    def test_lite_mode_does_not_add_readability_result(self):
        # postProcess returns early in lite mode, so readability is skipped
        result = peel_lite(readable=True)
        assert result["method"] == "lite"
        assert result["content"] == peel_lite()["content"]

    def test_lite_mode_result_has_standard_fields(self):
        result = peel_lite()
        assert result["url"] == URL
        assert result["title"] is not None
        assert result["content"] is not None
        assert result["status"] == "ok"
        assert result["token_estimate"] > 0

    def test_lite_mode_works_without_any_extra_options(self):
        result = extract_page("https://news.ycombinator.com",
                              PAGE_HTML.encode(), ExtractOptions(lite=True))
        assert result["content"]
        assert result["method"] == "lite"

    def test_lite_mode_missing_title_is_empty(self):
        result = extract_page(URL, b"<html><body><p>no head</p></body></html>",
                              ExtractOptions(lite=True))
        assert result["title"] == ""

    def test_lite_mode_extracts_no_metadata_or_links(self):
        # lite returns before the metadata/link stage (pipeline.ts:909
        # sets only title) — description/author/links stay empty
        result = peel_lite()
        assert result["description"] is None
        assert result["author"] is None
        assert result["links"] == []
        assert result["language"] is None


class TestLiteVsDefaultMode:
    def test_lite_mode_returns_content_for_a_normal_url(self):
        result = peel_lite()
        assert result["content"]
        assert result["quality"] == 0.5  # fixed, not calculated

    def test_default_mode_calculates_quality_from_content(self):
        result = extract_page(URL, PAGE_HTML.encode())
        assert isinstance(result["quality"], float)
        assert result["method"] != "lite"
        assert 0.0 <= result["quality"] <= 1.0
        assert result["quality"] != 0.5  # content-rich page scores real

    def test_default_mode_extracts_metadata(self):
        result = extract_page(URL, PAGE_HTML.encode())
        assert result["description"] == "A test page for lite mode."


class TestLiteByteIdentity:
    """Round-7 pin: lite output IS the bare converter output."""

    def test_lite_markdown_equals_converter(self):
        assert peel_lite()["content"] == md.html_to_markdown(
            PAGE_HTML, prune=False)

    def test_lite_selector_markdown_equals_select_then_convert(self):
        got = peel_lite(selector="article")["content"]
        want = md.html_to_markdown(
            md.select_content(PAGE_HTML, "article"), prune=False)
        assert got == want
        assert "Main Article Heading" in got

    def test_lite_skips_markdown_noise_cleanup_and_pruner(self):
        # the standard markdown path post-filters with
        # clean_markdown_noise + prune_markdown; lite must not
        # (pipeline.ts:906 calls htmlToMarkdown alone)
        html = PAGE_HTML.replace(
            "</article>",
            "<p>Share this article</p><p>Follow us on Twitter</p></article>")
        lite = extract_page(URL, html.encode(), ExtractOptions(lite=True))
        assert lite["content"] == md.html_to_markdown(html, prune=False)


class TestStandardPathSelector:
    """Selector in standard (non-lite) mode (pipeline.ts:994-1016):
    the fragment replaces the document for metadata + conversion, and
    JSON-LD / readability / detection / registry dispatch are skipped
    (`!selector` guards at :917, :944, :1011)."""

    def test_selector_scopes_conversion(self):
        result = extract_page(
            URL, PAGE_HTML.encode(), ExtractOptions(selector="article"))
        assert "Main Article Heading" in result["content"]
        assert "Navigation" not in result["content"]
        assert result["method"] == "generic"  # detection skipped

    def test_selector_beats_main_content_detection(self):
        # (a selected <nav> converts to '' — nav is a JUNK_SELECTOR in
        # both engines' cleanHTML, markdown.ts:14 — so scope to h1)
        result = extract_page(
            URL, PAGE_HTML.encode(), ExtractOptions(selector="h1"))
        assert result["content"] == "# Main Article Heading"
        assert "main content" not in result["content"]

    def test_selector_no_match_falls_back_to_full_page(self):
        # selectContent returns the input when nothing matches
        # (markdown.ts:208-225 full-page fallback)
        result = extract_page(
            URL, PAGE_HTML.encode(), ExtractOptions(selector="#nope"))
        assert "Main Article Heading" in result["content"]

    def test_exclude_without_selector_removes_nodes(self):
        with_footer = extract_page(URL, PAGE_HTML.encode())
        result = extract_page(
            URL, PAGE_HTML.encode(),
            ExtractOptions(exclude=("article",)))
        assert "Main Article Heading" not in result["content"]
        assert "Main Article Heading" in with_footer["content"]

    def test_exclude_combines_with_selector(self):
        html = PAGE_HTML.replace(
            "<h1>Main Article Heading</h1>",
            "<h1>Main Article Heading</h1><div class='ad'>Buy now!</div>")
        result = extract_page(
            URL, html.encode(),
            ExtractOptions(selector="article", exclude=("div.ad",)))
        assert "Main Article Heading" in result["content"]
        assert "Buy now" not in result["content"]

    def test_selector_skips_domain_extractor_dispatch(self):
        # a wikipedia.org url normally routes to the registry; with a
        # selector the user chose content — generic conversion instead
        html = ("<html><body><article><p>chosen fragment text here</p>"
                "</article></body></html>")
        result = extract_page("https://en.wikipedia.org/wiki/X",
                              html.encode(),
                              ExtractOptions(selector="article"))
        assert result["method"] == "generic"
        assert result["extractor"] == ""


class TestIncludeExcludeTags:
    """filterByTags plumbing (pipeline.ts:994-997): applied FIRST,
    before selector, so the filtered document feeds everything."""

    def test_include_tags_scopes_output(self):
        result = extract_page(
            URL, PAGE_HTML.encode(),
            ExtractOptions(include_tags=("article",)))
        assert "Main Article Heading" in result["content"]
        assert "Footer content" not in result["content"]

    def test_exclude_tags_removes_nodes(self):
        result = extract_page(
            URL, PAGE_HTML.encode(),
            ExtractOptions(exclude_tags=("article",)))
        assert "Main Article Heading" not in result["content"]

    def test_tags_filter_runs_before_selector(self):
        # excluding h1 first means the selector's fragment has no h1
        result = extract_page(
            URL, PAGE_HTML.encode(),
            ExtractOptions(selector="article", exclude_tags=("h1",)))
        assert "Main Article Heading" not in result["content"]
        assert "main content" in result["content"]
