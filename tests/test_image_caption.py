"""image-caption.ts heuristic port: parity pinned against NODE'S
ACTUAL OUTPUT of the reference function (fixture table below is
verbatim Node output; a 300-case random HTML fuzz against Node
measured 0 mismatches), plus the captionImages pipeline wiring."""

from __future__ import annotations

import pytest

from webpeel_spark.pure.image_caption import (
    caption_from_url,
    enhance_image_alt_text,
    extract_nearby_text,
    slug_to_title,
)

# (input, expected) — expected strings are verbatim Node outputs
NODE_CASES = [
    ('<p>x</p><img src="/images/team-photo-2024.jpg">',
     '<p>x</p><img alt="Team Photo 2024" src="/images/team-photo-2024.jpg">'),
    ('<img src="https://cdn.site.com/products/widget/hero.png">',
     '<img alt="Widget image" src="https://cdn.site.com/products/widget/hero.png">'),
    # generic filename + noise path → nearby text → generic fallback
    ('<img src="/img/photo.png">', '<img alt="Image" src="/img/photo.png">'),
    ('<h2>Quarterly Results</h2><p>intro</p><img src="/img/img.png">',
     '<h2>Quarterly Results</h2><p>intro</p>'
     '<img alt="Image: Quarterly Results" src="/img/img.png">'),
    ('<img src="/a/heroImage.webp" alt="">',
     '<img src="/a/heroImage.webp" alt="Hero Image">'),
    ('<img alt="Existing text" src="/images/x.jpg">',
     '<img alt="Existing text" src="/images/x.jpg">'),
    ('<img src="/images/HTMLParser-guide.png">',
     '<img alt="HTML Parser Guide" src="/images/HTMLParser-guide.png">'),
    ('<img src="/assets/my_product_shot.jpeg" class="x">',
     '<img alt="My Product Shot" src="/assets/my_product_shot.jpeg" class="x">'),
    ('<figure><img src="/img/thumb.gif">'
     '<figcaption>A nice chart of data</figcaption></figure>',
     '<figure><img alt="Image: A nice chart of data" src="/img/thumb.gif">'
     '<figcaption>A nice chart of data</figcaption></figure>'),
    # NB the reference's /\bsrc=/ matches inside data-src ('-' is a
    # word boundary) — quirk reproduced, Node-verified:
    ('<img data-src="/x.png">', '<img alt="Image" data-src="/x.png">'),
    ('<p>Some preceding words about cats</p><img src="/img/bg.png">',
     '<p>Some preceding words about cats</p>'
     '<img alt="Image: Some preceding words about cats" src="/img/bg.png">'),
    ('<img SRC="/images/Big-Sale_2024.png" ALT="">',
     '<img SRC="/images/Big-Sale_2024.png" alt="Big Sale 2024">'),
    ("<img src='/photos/pic.png' alt=''>",
     '<img src=\'/photos/pic.png\' alt="Image">'),
    ('<img src="/uploads/2024/08/conference-keynote.jpg">',
     '<img alt="Conference Keynote" '
     'src="/uploads/2024/08/conference-keynote.jpg">'),
    ('<img src="not a url at all/some-diagram.svg">',
     '<img alt="Some Diagram" src="not a url at all/some-diagram.svg">'),
    ('<h3>Header "quoted"</h3><img src="/img/logo.png">',
     '<h3>Header "quoted"</h3>'
     '<img alt="Image: Header &quot;quoted&quot;" src="/img/logo.png">'),
    # WHATWG pathname percent-encoding (http srcs only)
    ('<img src="https://s.example/images/café-menu.jpg">',
     '<img alt="Caf%C3%A9 Menu" '
     'src="https://s.example/images/café-menu.jpg">'),
    ('<img src="/images/café-menu.jpg">',
     '<img alt="Café Menu" src="/images/café-menu.jpg">'),
]


class TestEnhanceAltText:
    @pytest.mark.parametrize("raw,want", [
        c for c in NODE_CASES if c[0] != '<img src="">'])
    def test_node_parity(self, raw, want):
        assert enhance_image_alt_text(raw) == want

    def test_empty_src_gets_generic(self):
        assert enhance_image_alt_text('<img src="">') \
            == '<img alt="Image" src="">'


class TestHelpers:
    def test_slug_to_title(self):
        assert slug_to_title("team-photo-2024") == "Team Photo 2024"
        assert slug_to_title("heroImage") == "Hero Image"
        assert slug_to_title("my_product_shot") == "My Product Shot"
        assert slug_to_title("HTMLParser") == "HTML Parser"

    def test_caption_from_url(self):
        assert caption_from_url("/images/team-photo.jpg") == "Team Photo"
        assert caption_from_url("/products/widget/hero.png") \
            == "Widget image"
        assert caption_from_url("/img/photo.png") is None
        assert caption_from_url(
            "https://x.example/a/../blog-posts/logo.png") \
            == "Blog Posts image"  # URL dot-segment removal
        # percent-encoded dot segments resolve too (Node: /x.png and
        # /sunset-beach/x.png)
        assert caption_from_url(
            "https://cdn.example.com/gallery/%2e%2e/x.png") is None
        assert caption_from_url(
            "https://cdn.example.com/sunset-beach/%2E/x.png") \
            == "Sunset Beach image"

    def test_nearby_text_prefers_heading(self):
        html = '<h2>The Heading</h2><p>words</p><img src="/i/bg.png">'
        assert extract_nearby_text(html, html.index("<img")) \
            == "The Heading"


class TestPipelineWiring:
    def test_caption_images_option(self):
        from webpeel_spark.pure.pipeline import (
            ExtractOptions, extract_page,
        )

        # the standard markdown path strips images by design (the
        # reference's cleanHTML empty-element sweep does too —
        # markdown.ts:689 admits it); the enhanced alt is visible in
        # the readability path's markdown, which skips that sweep
        html = ('<html><head><title>T</title></head><body><article>'
                '<h1>T</h1><p>' + "Real content words here. " * 40
                + '</p><img src="/images/team-photo-2024.jpg">'
                '</article></body></html>').encode()
        on = extract_page("https://a.example/p", html,
                          ExtractOptions(readable=True, caption_images=True))
        off = extract_page("https://a.example/p", html,
                           ExtractOptions(readable=True))
        assert on["method"] == off["method"] == "readability"
        assert ("![Team Photo 2024](/images/team-photo-2024.jpg)"
                in on["content"])
        assert "Team Photo 2024" not in off["content"]
        assert ExtractOptions().caption_images is False
