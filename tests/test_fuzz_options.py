"""Options-sweep garbage tolerance: extract_page must never raise for
ANY ExtractOptions combination, not just the defaults.

Every options field (lite/selector/exclude/include_tags/exclude_tags:
pipeline.ts:895-911, :994-1007) adds branch surface inside the Arrow
UDF, where one uncaught exception fails the task.  test_fuzz_pipeline.py sweeps payloads at
DEFAULT_OPTIONS; this file sweeps the OPTION space (including malformed
selectors — user input at the API boundary) over a smaller seeded
payload set.  Deterministic: seeded RNG, fixed sweep.
"""

from __future__ import annotations

import random

from webpeel_spark.pure.pipeline import ExtractOptions, extract_page

_STATUSES = ("ok", "error", "empty")

_SELECTORS = (
    "", "article", ".main", "#content", "div.post > p", "a[href]",
    "li:first-child", "   ", "..", "[", "div..x", ":::", "p,",
    "*", "p, div, nonsense???", " bad",
)

_TAGSETS = ((), ("p", "h1"), ("script",), ("div", "nosuchtag"),
            ("", "p"), ("a",))


def _payloads(rng: random.Random):
    yield b""
    yield b"<html><head><title>T</title></head><body><p>hi</p></body></html>"
    yield ("<div>" * 80 + "core text " * 30).encode()
    yield b"%PDF-" + bytes(rng.randrange(256) for _ in range(120))
    yield ('{"k": [1,2,').encode()
    yield ("<article><h1>H</h1>" + "<p>word " * 60 + "</article>").encode()
    yield bytes(rng.randrange(256) for _ in range(200))


def test_option_combinations_never_raise():
    rng = random.Random(1234)
    payloads = list(_payloads(rng))
    for i in range(200):
        opts = ExtractOptions(
            readable=rng.random() < 0.3,
            chunk=rng.random() < 0.5,
            caption_images=rng.random() < 0.2,
            lite=rng.random() < 0.4,
            selector=rng.choice(_SELECTORS),
            exclude=rng.choice(((), (".ad",), ("[", "p"))),
            include_tags=rng.choice(_TAGSETS),
            exclude_tags=rng.choice(_TAGSETS),
        )
        payload = payloads[i % len(payloads)]
        r = extract_page(f"https://optfuzz.example/{i}", payload, opts)
        assert r["status"] in _STATUSES, (opts, r)
        # the result dict must keep its full schema regardless of options
        # (the Arrow UDF builds fixed-width columns from these keys)
        assert "content" in r and "fingerprint" in r and "chunks" in r


def test_lite_is_total_over_payload_fuzz():
    """Lite mode on every payload class from the DEFAULT_OPTIONS sweep."""
    rng = random.Random(77)
    lite = ExtractOptions(lite=True)
    lite_sel = ExtractOptions(lite=True, selector="article")
    for i in range(80):
        payload = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300)))
        for opts in (lite, lite_sel):
            r = extract_page(f"https://litefuzz.example/{i}", payload, opts)
            assert r["status"] in _STATUSES
