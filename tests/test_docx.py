"""DOCX branch: magic-byte routing, WordML→HTML→markdown conversion,
corpus append-only docx rows (documents.ts:124-157 parity)."""

from webpeel_spark.pure.docx import docx_to_html, is_docx_bytes, make_docx
from webpeel_spark.pure.pipeline import detect_content_type, extract_page
from webpeel_spark.sources.corpus import generate_rows


def _sample():
    return make_docx(
        "Annual Report",
        ["First paragraph with body text.", "Second paragraph here."],
        bullets=["alpha item", "beta item"],
        table_rows=[["Metric", "Value"], ["rows", "42"], ["cols", "7"], ["x", "1"]],
    )


def test_magic_detection():
    p = _sample()
    assert is_docx_bytes(p)
    assert not is_docx_bytes(b"%PDF-1.4 ...")
    assert not is_docx_bytes(b"PK\x03\x04 not a zip really")
    assert detect_content_type("https://x.com/a", p) == "document"
    assert detect_content_type("https://x.com/a.docx", b"<html>") == "document"


def test_make_docx_bytes_do_not_depend_on_the_clock():
    """Two builds under two different wall clocks give the same bytes,
    so a corpus with DOCX rows is byte-reproducible."""
    import time
    from unittest import mock

    builds = []
    for when in (time.mktime((2001, 2, 3, 4, 5, 6, 0, 0, -1)),
                 time.mktime((2030, 7, 8, 9, 10, 12, 0, 0, -1))):
        with mock.patch("time.time", return_value=when):
            builds.append(_sample())
    assert builds[0] == builds[1]


def test_docx_to_html_structure():
    html = docx_to_html(_sample())
    assert "<h1>Annual Report</h1>" in html
    assert "<p>First paragraph with body text.</p>" in html
    assert "<ul><li>alpha item</li>" in html.replace("\n", "")
    assert "<table>" in html and "<td>Metric</td>" in html


def test_extract_page_docx_branch():
    r = extract_page("https://files.example.net/docs/annual-report.docx", _sample())
    assert r["status"] == "ok"
    assert r["branch"] == "docx"
    assert r["method"] == "docx"
    assert r["title"] == "annual-report"
    assert r["quality"] == 1.0
    assert "# Annual Report" in r["content"]
    assert "alpha item" in r["content"]
    assert r["word_count"] > 10


def test_bold_italic_runs():
    import io, zipfile
    doc = (
        '<?xml version="1.0"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        "<w:body><w:p><w:r><w:rPr><w:b/></w:rPr><w:t>bold</w:t></w:r>"
        "<w:r><w:rPr><w:i/></w:rPr><w:t>ital</w:t></w:r></w:p></w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", doc)
    html = docx_to_html(buf.getvalue())
    assert "<strong>bold</strong>" in html
    assert "<em>ital</em>" in html


def test_malformed_docx_is_error_row():
    import io, zipfile
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("word/document.xml", "<not-xml")
    r = extract_page("https://x.com/broken.docx", buf.getvalue())
    assert r["status"] == "error"
    assert "DOCX" in r["error"]


def test_corpus_docx_rows_appended_only():
    base = generate_rows(100, seed=42)
    with_docx = generate_rows(100, seed=42, docx_fraction=0.05)
    assert len(with_docx) == 105
    # first 100 rows byte-identical (golden fixtures depend on this)
    for a, b in zip(base, with_docx[:100]):
        assert a["url"] == b["url"] and a["html"] == b["html"]
    for row in with_docx[100:]:
        assert row["url"].endswith(".docx")
        assert is_docx_bytes(row["html"])
        r = extract_page(row["url"], row["html"])
        assert r["status"] == "ok" and r["branch"] == "docx"
