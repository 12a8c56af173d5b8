"""Pipeline stage-order pins (round-8 ADVICE items).

The reference applies filterByTags / selector / exclude only inside the
STANDARD path (pipeline.ts:994-1007); the JSON-LD gate (:917) and the
readable fast-path (:944) evaluate the raw fetchResult.html, and the
postProcess domain pass (:1363) is NOT selector-gated (only lite skips
postProcess, :1236).  These tests pin the corrected order:

- exclude_tags=('script',) must NOT disable the JSON-LD gate;
- a selector on a domain-extractor URL still yields the domain content;
- the standard path reads metadata/links from the FILTERED document,
  the early-return paths from the raw one;
- link-extraction input is capped at 100k unconditionally in the early
  returns (:931-933) and not in the standard path, which caps only
  under a budget (:1023-1026).
"""

import json

from webpeel_spark.pure.pipeline import ExtractOptions, extract_page

LD = {
    "@context": "https://schema.org",
    "@type": "NewsArticle",
    "headline": "Structured Headline",
    "articleBody": ("Structured body sentence number one with plenty of "
                    "words. " * 8),
}

JSONLD_PAGE = f"""
<html><head>
  <title>Raw Title</title>
  <meta name="description" content="Raw description text." />
  <script type="application/ld+json">{json.dumps(LD)}</script>
</head><body>
  <article><h1>DOM Heading</h1>
  <p>{'Dom paragraph with enough words to be substantial content. ' * 6}</p>
  </article>
</body></html>
"""

URL = "https://example.com/story"


class TestJsonLdGateOnRawHtml:
    def test_exclude_tags_script_does_not_disable_jsonld_gate(self):
        # pipeline.ts:917 reads fetchResult.html; filterByTags (:994)
        # happens later, in the standard path only
        r = extract_page(URL, JSONLD_PAGE.encode(),
                         ExtractOptions(exclude_tags=("script",)))
        assert r["method"].startswith("jsonld:")
        assert "Structured body sentence" in r["content"]

    def test_include_tags_does_not_disable_jsonld_gate(self):
        r = extract_page(URL, JSONLD_PAGE.encode(),
                         ExtractOptions(include_tags=("article",)))
        assert r["method"].startswith("jsonld:")

    def test_selector_option_does_disable_jsonld_gate(self):
        # the only gate the reference has on it (:917 `!selector`)
        r = extract_page(URL, JSONLD_PAGE.encode(),
                         ExtractOptions(selector="article"))
        assert not r["method"].startswith("jsonld:")
        assert "DOM Heading" in r["content"]

    def test_jsonld_early_return_reads_raw_metadata(self):
        # :930 extracts metadata from fetchResult.html even when tag
        # filters would have stripped the head
        r = extract_page(URL, JSONLD_PAGE.encode(),
                         ExtractOptions(include_tags=("article",)))
        assert r["description"] == "Raw description text."


class TestReadabilityGateOnRawHtml:
    def test_exclude_tags_do_not_feed_readability(self):
        # :944-989 runs extractReadableContent(fetchResult.html) — the
        # raw document — so excluding <p> cannot empty the fast path
        page = """
        <html><head><title>T</title></head><body><article>
        <p>First meaningful readable paragraph with a good number of words in it.</p>
        <p>Second meaningful readable paragraph that also carries enough words.</p>
        </article></body></html>
        """
        r = extract_page(URL, page.encode(),
                         ExtractOptions(readable=True, exclude_tags=("p",)))
        assert r["method"] == "readability"
        assert "First meaningful readable paragraph" in r["content"]


class TestDomainPassNotSelectorGated:
    MEDIUM_PAGE = """
    <html><head><title>Post Title</title>
      <meta property="og:title" content="Extractor Title" />
    </head><body>
      <div id="aside">Sidebar fragment text.</div>
      <article><h1>Extractor Title</h1>
      <p>Medium article body paragraph one with plenty of words inside.</p>
      <p>Medium article body paragraph two with plenty of words inside.</p>
      </article>
    </body></html>
    """

    def test_selector_does_not_skip_domain_extraction(self):
        # postProcess (:1363-1387) fires on the raw html regardless of
        # selector; only readability is selector-gated (:1240)
        r = extract_page("https://medium.com/@a/post-1",
                         self.MEDIUM_PAGE.encode(),
                         ExtractOptions(selector="#aside"))
        assert r["method"] == "domain"
        assert r["extractor"] == "medium.com"
        assert "Medium article body paragraph one" in r["content"]

    def test_domain_extraction_still_wins_without_selector(self):
        r = extract_page("https://medium.com/@a/post-1",
                         self.MEDIUM_PAGE.encode(), ExtractOptions())
        assert r["method"] == "domain"

    def test_lite_still_skips_domain_extraction(self):
        # options.lite returns before postProcess (:1236)
        r = extract_page("https://medium.com/@a/post-1",
                         self.MEDIUM_PAGE.encode(),
                         ExtractOptions(lite=True))
        assert r["method"] == "lite"


class TestStandardPathReadsFilteredDoc:
    PAGE = """
    <html><head><title>Filtered Title</title>
      <meta name="description" content="Head description." />
    </head><body>
      <p>Body paragraph with a <a href="https://example.org/x">link</a>.</p>
    </body></html>
    """

    def test_selector_replaces_metadata_document(self):
        # :1014 extractMetadata(html) runs on the post-selector string —
        # a selected fragment has no <head>, so description is empty
        r = extract_page(URL, self.PAGE.encode(),
                         ExtractOptions(selector="p"))
        assert not r["description"]

    def test_exclude_tags_strip_links_from_standard_path(self):
        # links are extracted from the filtered document (:1023-1028)
        r = extract_page(URL, self.PAGE.encode(),
                         ExtractOptions(exclude_tags=("a",)))
        assert r["links"] == []

    def test_no_filters_keeps_links(self):
        r = extract_page(URL, self.PAGE.encode(), ExtractOptions())
        assert r["links"] == ["https://example.org/x"]


def _big_page(with_ld: bool) -> bytes:
    """~160KB page whose last link sits beyond the 100k cap."""
    head = "<html><head><title>Big</title>"
    if with_ld:
        head += ('<script type="application/ld+json">'
                 + json.dumps(LD) + "</script>")
    head += "</head><body>"
    filler = "<p>" + ("filler words here " * 12) + "</p>\n"
    body = filler * 700  # ~150KB
    tail = '<a href="https://example.org/deep">deep</a></body></html>'
    return (head + body + tail).encode()


class TestLinkCapRules:
    def test_standard_path_uncapped_without_budget(self):
        # :1023-1026 caps only when options.budget is set, and no batch
        # run sets one
        r = extract_page(URL, _big_page(False), ExtractOptions())
        assert "https://example.org/deep" in r["links"]

    def test_jsonld_early_return_capped_unconditionally(self):
        # :931-933 — no budget involved
        r = extract_page(URL, _big_page(True), ExtractOptions())
        assert r["method"].startswith("jsonld:")
        assert "https://example.org/deep" not in r["links"]


AUTH_DOMAIN_PAGE = """
<html><head><title>Sign in - Medium</title></head><body>
  <h1>Members-only preview</h1>
  <p>Short teaser.</p>
  <form action="/m/signin" method="post">
    <input type="email" name="email" />
    <input type="password" name="password" />
    <button type="submit">Sign in</button>
  </form>
</body></html>
"""


class TestAuthWallBeforeDomainPass:
    def test_auth_flag_coexists_with_domain_content(self):
        # Stage order pin: the reference's auth-wall check is the END
        # of parseContent (stage 5, pipeline.ts:1198-1218) and reads
        # ctx.content BEFORE postProcess's domain extraction (stage 6,
        # :1361-1387) replaces it; buildResult (:1856) then spreads
        # authRequired unconditionally.  So a domain-extractor page
        # whose generic conversion is sparse ships BOTH the flag and
        # the domain content — reference-faithful, not a port bug.
        r = extract_page("https://medium.com/@someone/teaser-1",
                         AUTH_DOMAIN_PAGE.encode(), ExtractOptions())
        assert r["method"] == "domain"
        assert r["extractor"] == "medium.com"
        assert r["auth_required"] is True
        assert "Members-only preview" in r["content"]

    def test_auth_check_reads_pre_domain_sparseness(self):
        # the <800-char gate is evaluated on the GENERIC conversion
        # (ctx.content at stage 5), not on the domain content that
        # replaces it — a page whose generic conversion is substantial
        # never reaches detect_auth_wall even if the domain content is
        # short (here: both substantial, flag stays False)
        body = "<p>" + ("Plenty of ordinary paragraph words here. "
                        * 40) + "</p>"
        page = AUTH_DOMAIN_PAGE.replace("<p>Short teaser.</p>", body)
        r = extract_page("https://medium.com/@someone/teaser-2",
                         page.encode(), ExtractOptions())
        assert r["method"] == "domain"
        assert r["auth_required"] is False


class TestLazyRawWalk:
    """The raw-document parse + fused anchors/LD walk is lazy: with a
    selector set, the JSON-LD/readable gates are skipped and the
    standard path parses the selected fragment, so no stage reads the
    raw tree — the walk must not run at all (it used to run eagerly,
    doubling per-page DOM cost on the selector path)."""

    def _count_walks(self, monkeypatch):
        import webpeel_spark.pure.pipeline as pl
        calls = []
        real = pl.collect_anchors_and_ld

        def counting(root):
            calls.append(1)
            return real(root)

        monkeypatch.setattr(pl, "collect_anchors_and_ld", counting)
        return calls

    def test_selector_skips_raw_walk(self, monkeypatch):
        calls = self._count_walks(monkeypatch)
        page = ("<html><body><div id='x'><p>Selected body text here."
                "</p></div><p>Other</p></body></html>")
        r = extract_page("https://example.com/s", page.encode(),
                         ExtractOptions(selector="#x"))
        assert "Selected body text" in r["content"]
        assert calls == []

    def test_standard_path_walks_once(self, monkeypatch):
        calls = self._count_walks(monkeypatch)
        r = extract_page(URL, JSONLD_PAGE.encode(), ExtractOptions())
        assert r["content"]
        assert len(calls) == 1


class TestDomainSecondPassOnExtractedContent:
    """postProcess tries the domain extractor on raw HTML first, then
    retries with the already-extracted content when the raw pass
    returns nothing — some SPAs only expose data after readability
    processing (pipeline.ts:1366-1371)."""

    PAGE = """
    <html><head><title>Shell</title></head><body>
    <article><p>%s</p></article>
    </body></html>
    """ % ("Readable body sentence with plenty of ordinary words. " * 8)

    def _patched(self, monkeypatch, behavior):
        import webpeel_spark.pure.pipeline as pl

        calls = []

        def fake(html, url):
            calls.append(html)
            return behavior(html, url)

        monkeypatch.setattr(pl, "extract_domain_data", fake)
        return calls

    def test_second_pass_fires_with_extracted_content(self, monkeypatch):
        from webpeel_spark.pure.extractors import DomainExtractResult

        def behavior(html, url):
            if html.lstrip().startswith("<"):
                return None  # raw pass finds nothing
            return DomainExtractResult(
                type="article", domain="medium.com",
                clean_content="second-pass content from markdown input",
                structured={"title": "Second Pass"})

        calls = self._patched(monkeypatch, behavior)
        r = extract_page("https://medium.com/@a/post-1",
                         self.PAGE.encode(), ExtractOptions())
        assert len(calls) == 2
        assert calls[0].lstrip().startswith("<")       # raw html first
        assert "Readable body sentence" in calls[1]     # then content
        assert not calls[1].lstrip().startswith("<html")
        assert r["method"] == "domain"
        assert r["content"] == "second-pass content from markdown input"
        assert r["title"] == "Second Pass"

    def test_no_second_pass_when_raw_succeeds(self, monkeypatch):
        from webpeel_spark.pure.extractors import DomainExtractResult

        def behavior(html, url):
            return DomainExtractResult(
                type="article", domain="medium.com",
                clean_content="raw-pass content long enough to keep",
                structured={})

        calls = self._patched(monkeypatch, behavior)
        extract_page("https://medium.com/@a/post-1",
                     self.PAGE.encode(), ExtractOptions())
        assert len(calls) == 1

    def test_no_second_pass_without_content(self, monkeypatch):
        # empty page → empty extracted content → the ctx.content guard
        # (`!ddResult && ctx.content`) suppresses the second pass
        calls = self._patched(monkeypatch, lambda h, u: None)
        r = extract_page("https://medium.com/@a/post-1",
                         b"<html><body></body></html>", ExtractOptions())
        assert r["content"] == ""
        assert len(calls) == 1
