"""extract-listings.ts port: listing container detection and
extraction."""

from webpeel_spark.pure.listings import (
    child_signature, extract_listings, is_header_or_junk,
    signatures_are_similar, strip_title_prefixes,
)
from webpeel_spark.dom import parse_html


# ── listings ─────────────────────────────────────────────────────────────

EBAY_ISH = """<html><body>
<h1>Results</h1>
<ul class="srp-results">
""" + "\n".join(
    f'<li class="s-item"><img src="/p{i}.jpg">'
    f'<div class="s-item__title"><a href="/itm/{i}">New Listing Vintage Camera Model {i}</a></div>'
    f'<span class="s-item__price">${i + 10}.99</span>'
    f'<p class="s-item__subtitle">Excellent condition unit number {i}</p></li>'
    for i in range(6)
) + """
</ul></body></html>"""

HN_ISH = """<html><body><table><tbody>
""" + "\n".join(
    f'<tr class="athing"><td class="title">{i + 1}.</td><td class="votelinks"><a href="/vote?id={i}">^</a></td>'
    f'<td class="title"><a href="https://example.com/story{i}">Interesting Story Number {i} About Things</a></td></tr>'
    f'<tr><td colspan="2"></td><td class="subtext"><a href="/user?id=u{i}">u{i}</a></td></tr>'
    for i in range(5)
) + """
</tbody></table></body></html>"""


def test_child_signature_counts():
    root = parse_html("<div><ul><li><a>x</a><a>y</a><span>z</span></li></ul></div>")
    li = [e for e in root.iter_elements() if e.tag == "li"][0]
    assert child_signature(li) == "a:2,span:1"


def test_signature_similarity():
    assert signatures_are_similar("td:3", "td:3")
    assert not signatures_are_similar("td:3", "td:2")  # HN-critical
    assert signatures_are_similar("a:1,img:1,span:2", "a:1,img:1,span:2,p:1")


def test_title_strippers():
    assert strip_title_prefixes("New Listing Vintage Camera") == "Vintage Camera"
    assert strip_title_prefixes("Cool Gadget Opens in a new window or tab") == "Cool Gadget"
    assert is_header_or_junk("Results")
    assert is_header_or_junk("10.")
    assert not is_header_or_junk("Vintage Camera Model 3")


def test_extract_listings_ebay_ish():
    items = extract_listings(EBAY_ISH, "https://www.ebay.com/sch/")
    assert len(items) == 6
    assert items[0]["title"] == "Vintage Camera Model 0"  # prefix stripped
    assert items[0]["price"] == "$10.99"
    assert items[0]["link"] == "https://www.ebay.com/itm/0"
    assert items[0]["image"] == "https://www.ebay.com/p0.jpg"
    assert "Excellent condition" in items[0]["description"]


def test_extract_listings_hn_table_rows():
    items = extract_listings(HN_ISH, "https://news.ycombinator.com/")
    # story rows (3 td) must win over subtext rows (2 td); rank "1." junk-filtered
    titles = [i["title"] for i in items]
    assert any("Interesting Story Number 0" in t for t in titles)
    assert all("u0" != t for t in titles)
    links = [i["link"] for i in items]
    assert "https://example.com/story0" in links


def test_extract_listings_no_pattern():
    assert extract_listings("<html><body><p>just text</p></body></html>") == []
    assert extract_listings("") == []
