"""DOCX extraction — dependency-free (stdlib zipfile + ElementTree).

Reference behaviour (/root/reference/src/core/documents.ts:124-157):
mammoth converts the .docx to clean semantic HTML, which then flows
through htmlToMarkdown; the title falls back to the url basename sans
extension ("Word Document" when absent); word count is computed on the
plain text.  We reproduce the semantic-HTML step directly from WordML
(word/document.xml): paragraphs → <p>, Heading1-6/Title styles →
<h1>-<h6>, bold/italic runs → <strong>/<em>, numbered/bulleted
paragraphs → <ul><li>, tables → <table><tr><td>.
"""

from __future__ import annotations

import io
import zipfile
from html import escape as _esc
from typing import List, Optional, Sequence
from xml.etree import ElementTree as ET

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"

_HEADING_STYLES = {
    "Title": 1, "Heading1": 1, "Heading2": 2, "Heading3": 3,
    "Heading4": 4, "Heading5": 5, "Heading6": 6,
}


def is_docx_bytes(payload: bytes) -> bool:
    """Magic-byte check: a ZIP container holding word/document.xml."""
    if not payload or not payload.startswith(b"PK\x03\x04"):
        return False
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            return "word/document.xml" in z.namelist()
    except Exception:
        return False


def _run_html(run) -> str:
    rpr = run.find(f"{_W}rPr")
    bold = rpr is not None and rpr.find(f"{_W}b") is not None
    italic = rpr is not None and rpr.find(f"{_W}i") is not None
    parts: List[str] = []
    for child in run:
        tag = child.tag
        if tag == f"{_W}t":
            parts.append(_esc(child.text or ""))
        elif tag == f"{_W}br":
            parts.append("<br>")
        elif tag == f"{_W}tab":
            parts.append(" ")
    text = "".join(parts)
    if not text:
        return ""
    if bold:
        text = f"<strong>{text}</strong>"
    if italic:
        text = f"<em>{text}</em>"
    return text


def _paragraph_html(p) -> tuple:
    """(html, kind) where kind is 'li', 'p' or 'hN'."""
    ppr = p.find(f"{_W}pPr")
    heading = 0
    is_list = False
    if ppr is not None:
        style = ppr.find(f"{_W}pStyle")
        if style is not None:
            heading = _HEADING_STYLES.get(style.get(f"{_W}val", ""), 0)
        if ppr.find(f"{_W}numPr") is not None:
            is_list = True
    inner = "".join(_run_html(r) for r in p.findall(f"{_W}r"))
    if not inner.strip():
        return "", "empty"
    if heading:
        return f"<h{heading}>{inner}</h{heading}>", f"h{heading}"
    if is_list:
        return f"<li>{inner}</li>", "li"
    return f"<p>{inner}</p>", "p"


def _table_html(tbl) -> str:
    rows: List[str] = []
    for tr in tbl.findall(f"{_W}tr"):
        cells: List[str] = []
        for tc in tr.findall(f"{_W}tc"):
            cell_text = "".join(
                _run_html(r) for p in tc.findall(f"{_W}p")
                for r in p.findall(f"{_W}r")
            )
            cells.append(f"<td>{cell_text}</td>")
        rows.append("<tr>" + "".join(cells) + "</tr>")
    return "<table>" + "".join(rows) + "</table>"


def docx_to_html(payload: bytes) -> Optional[str]:
    """Semantic HTML from a .docx payload (mammoth-equivalent shape),
    or None when the payload is not parseable."""
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as z:
            xml = z.read("word/document.xml")
        root = ET.fromstring(xml)
    except Exception:
        return None
    body = root.find(f"{_W}body")
    if body is None:
        return None
    out: List[str] = []
    open_list = False
    for el in body:
        if el.tag == f"{_W}p":
            html, kind = _paragraph_html(el)
            if kind == "li":
                if not open_list:
                    out.append("<ul>")
                    open_list = True
                out.append(html)
                continue
            if open_list:
                out.append("</ul>")
                open_list = False
            if html:
                out.append(html)
        elif el.tag == f"{_W}tbl":
            if open_list:
                out.append("</ul>")
                open_list = False
            out.append(_table_html(el))
    if open_list:
        out.append("</ul>")
    return "\n".join(out)


# ── deterministic fixture generator (tests + synthetic corpus) ──────────

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
</Types>"""

_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
</Relationships>"""


def _wml_p(text: str, style: str = "", bullet: bool = False,
           bold: bool = False) -> str:
    ppr = ""
    if style:
        ppr = f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>'
    elif bullet:
        ppr = ('<w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="1"/>'
               "</w:numPr></w:pPr>")
    rpr = "<w:rPr><w:b/></w:rPr>" if bold else ""
    return (f"<w:p>{ppr}<w:r>{rpr}"
            f'<w:t xml:space="preserve">{_esc(text)}</w:t></w:r></w:p>')


def make_docx(title: str, paragraphs: Sequence[str],
              bullets: Sequence[str] = (),
              table_rows: Sequence[Sequence[str]] = (),
              bold_paragraphs: Sequence[str] = ()) -> bytes:
    """Minimal valid .docx with heading, paragraphs, bullets, a table."""
    parts = [_wml_p(title, style="Heading1")]
    parts += [_wml_p(p) for p in paragraphs]
    parts += [_wml_p(p, bold=True) for p in bold_paragraphs]
    parts += [_wml_p(b, bullet=True) for b in bullets]
    if table_rows:
        rows = "".join(
            "<w:tr>" + "".join(
                f'<w:tc><w:p><w:r><w:t xml:space="preserve">{_esc(c)}</w:t></w:r></w:p></w:tc>'
                for c in row
            ) + "</w:tr>"
            for row in table_rows
        )
        parts.append(f"<w:tbl>{rows}</w:tbl>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{''.join(parts)}</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in (("[Content_Types].xml", _CONTENT_TYPES),
                           ("_rels/.rels", _RELS),
                           ("word/document.xml", doc)):
            # a fixed timestamp (writestr(name) stamps the wall clock),
            # so the same document is the same bytes on every build
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o600 << 16
            z.writestr(info, data)
    return buf.getvalue()
