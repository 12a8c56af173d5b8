"""HTML cleaning + markdown conversion pipeline.

Pure-Python reimplementation of /root/reference/src/core/markdown.ts:
junk-selector sweep (:10-55), tag filtering (:168-225), cleanHTML
with layout/complex table conversion (:231-409),
main-content detection (:416-493), quality scoring (:499-536),
htmlToMarkdown (:586-684), htmlToText (:724-747), token estimation and
budget truncation (:753-805), cleanForAI (:812-833) and
cleanMarkdownNoise (:839-884).  Selector lists, score bands and regex
tables are preserved exactly; conversion itself is our Turndown-
equivalent emitter (mdemit.py).
"""

from __future__ import annotations

import math
import re
from typing import Dict, List, Optional, Tuple

from .jstext import JS_NWS, JS_WS, collapse_ws, js_trim
from ..dom import (Node, parse_html, select, document_body, BulkMatcher,
                   PriorityMatcher)
from .mdemit import node_to_markdown
from .pruner import prune_content

MAX_HTML_BYTES = 10 * 1024 * 1024  # markdown.ts:233
MAX_MARKDOWN_BYTES = 1024 * 1024   # markdown.ts:608

_PARSEINT_RE = re.compile(rf"{JS_WS}*([+-]?[0-9]+)")  # parseInt: ASCII digits, JS ws-trim


def _js_parse_int(s: str):
    """JS ``parseInt(s, 10)``: leading digits prefix, else NaN (None)."""
    m = _PARSEINT_RE.match(s)
    return int(m.group(1)) if m else None

JUNK_SELECTORS = [
    'script', 'style', 'noscript', 'iframe', 'link[rel="stylesheet"]',
    'nav', '[role="navigation"]', '[role="search"]',
    '.sidebar', '.topbar', '.top-bar', '.site-nav', '.main-nav',
    '.breadcrumb', '.breadcrumbs', '[class*="breadcrumb"]',
    '.pagination', '[class*="pagination"]',
    '.advertisement', '.ad', '[class*="ad-"]', '[id*="ad-"]',
    '[class*="advert"]', '[class*="sponsor"]', '[class*="promo"]',
    '.cookie-banner', '.cookie-notice', '.cookie-consent',
    '[class*="cookie"]', '[id*="cookie"]',
    '[class*="consent"]', '[class*="gdpr"]',
    '[class*="popup"]', '[class*="modal"]',
    '[class*="notification-bar"]',
    '.ad-banner', '.promo-banner',
    '.social-share', '.share-buttons', '.share-widget',
    '.newsletter-signup', '[class*="newsletter"]',
    '.subscribe-form', '.subscribe-widget',
    '.signup-form', '.signup-widget', '.signup-cta',
    '[class*="call-to-action"]',
    '.related-posts', '[class*="you-may-also"]', '[class*="more-stories"]',
    '.comments-section', '.comment-form', '#comments',
    '[class*="resume-upload"]', '[class*="resumeUpload"]',
    '[class*="job-alert"]', '[class*="jobAlert"]',
    '[class*="sign-in-gate"]', '[class*="signin-prompt"]',
    '[class*="login-wall"]', '[class*="paywall"]', '[class*="signin-gate"]',
    '[class*="login-gate"]', '[class*="access-gate"]', '[class*="content-gate"]',
    '[class*="registration-wall"]', '.login-prompt', '.auth-wall',
    '[class*="chat-widget"]', '[class*="chatbot"]', '[class*="intercom"]',
    '[class*="drift-"]', '[class*="zendesk"]', '[class*="crisp"]',
    '[class*="hubspot"]', '#hubspot-messages-iframe-container',
    '.skip-to-content', '.skip-link', '.skip-nav',
]


def filter_by_tags(html: str, include_tags: Optional[List[str]] = None,
                   exclude_tags: Optional[List[str]] = None) -> str:
    """Include/exclude-selector filtering (markdown.ts:168-202)."""
    root = parse_html(html)
    if exclude_tags:
        for sel in exclude_tags:
            for el in select(root, sel):
                el.remove()
    if include_tags:
        included: List[Node] = []
        for sel in include_tags:
            included.extend(select(root, sel))
        if included:
            return "\n".join(el.html() for el in included)
        return ""
    html_el = next((c for c in root.children if isinstance(c, Node)), None)
    return html_el.html() if html_el is not None else ""


def select_content(html: str, selector: str,
                   exclude: Optional[List[str]] = None) -> str:
    """CSS-scoped extraction with full-page fallback (markdown.ts:208-225)."""
    root = parse_html(html)
    if exclude:
        for sel in exclude:
            for el in select(root, sel):
                el.remove()
    selected = select(root, selector)
    if not selected:
        return html
    return "\n".join(el.html() for el in selected)


# ── cleanHTML (markdown.ts:231-409) ──────────────────────────────────────

_JUNK_MATCHER = BulkMatcher(JUNK_SELECTORS)


def _clean_dom(root: Node) -> None:
    # junk sweep: one walk for all 60+ selectors (union semantics —
    # identical node set to the per-selector sweep, ~60× fewer walks)
    for el in _JUNK_MATCHER.select(root):
        el.remove()

    # conditional header/footer keep (>200 chars of text) + aside sweep,
    # in the reference's SEQUENTIAL order (markdown.ts:245-255): headers
    # first, then footers measured on the header-free tree (a footer
    # whose length cleared 200 only because of a nested junk header must
    # still drop), then sidebar asides
    for el in root.elements_list():
        if el.tag == "header" or el.attrs.get("role") == "banner":
            if len(el.text().strip()) < 200:
                el.remove()
    for el in root.elements_list():
        if el.tag == "footer" or el.attrs.get("role") == "contentinfo":
            if len(el.text().strip()) < 200:
                el.remove()
    for el in root.elements_list():
        if el.tag == "aside" and (el.attrs.get("role") == "complementary"
                                  or "sidebar" in (el.attrs.get("class") or "")):
            el.remove()

    _convert_layout_tables(root)
    _convert_complex_tables(root)

    # p:empty / div:empty (no children at all — empty text nodes are
    # never stored, so "no children" is exactly the :empty pseudo here)
    for el in root.elements_list():
        if el.tag in ("p", "div") and not el.children:
            el.remove()

    # remove whitespace-only leaf elements
    for el in root.elements_list():
        if not el.element_children() and not el.text().strip():
            if el.parent is not None:
                el.remove()


def _convert_layout_tables(root: Node) -> None:
    for table in select(root, "table"):
        if table.parent is None:
            continue
        has_border = table.get("border") is not None
        has_cellpadding = table.get("cellpadding") is not None
        has_bgcolor = table.get("bgcolor") is not None
        has_role_pres = table.get("role") == "presentation"
        has_nested = any(e.tag == "table" for e in table.iter_elements())
        has_th = any(e.tag == "th" for e in table.iter_elements())
        trs = [e for e in table.iter_elements() if e.tag == "tr"]
        row_count = len(trs)
        max_cols = max(
            (len([c for c in tr.element_children() if c.tag in ("td", "th")]) for tr in trs),
            default=0,
        )
        is_data_by_size = row_count >= 3 or max_cols >= 3
        is_layout = (
            (has_border or has_cellpadding or has_bgcolor or has_role_pres
             or has_nested or not has_th)
            and not is_data_by_size
        )
        if not is_layout:
            continue
        lines: List[str] = []
        for td in [e for e in table.iter_elements() if e.tag == "td"]:
            anchors = [a for a in td.iter_elements() if a.tag == "a"]
            for a in anchors:
                href = a.get("href")
                label = a.text().strip()
                if label and href:
                    lines.append(f'<a href="{href}">{label}</a>')
            clone = td.clone()
            for a in [e for e in clone.iter_elements() if e.tag == "a"]:
                a.remove()
            non_link_text = clone.text().strip()
            if len(non_link_text) > 10 and not anchors:
                lines.append(f"<p>{non_link_text}</p>")
        table.replace_with_html("<div>" + "\n".join(lines) + "</div>")


def _convert_complex_tables(root: Node) -> None:
    for table in select(root, "table"):
        if table.parent is None:
            continue
        all_els = list(table.iter_elements())
        has_colspan = any(e.get("colspan") is not None for e in all_els)
        has_rowspan = any(e.get("rowspan") is not None for e in all_els)
        has_thead = any(e.tag == "thead" for e in all_els)
        trs = [e for e in all_els if e.tag == "tr"]
        first_row = trs[0] if trs else None
        col_count = (
            len([c for c in first_row.element_children() if c.tag in ("th", "td")])
            if first_row is not None else 0
        )
        is_complex = has_colspan or has_rowspan or not has_thead or col_count > 8

        if not is_complex:
            # strip attributes so the GFM-equivalent emitter handles it
            for el in [table] + all_els:
                if el.tag in ("table", "thead", "tbody", "tfoot", "tr", "th", "td", "caption"):
                    el.attrs.clear()
            continue

        headers: List[str] = []
        if first_row is not None:
            for th in first_row.element_children():
                if th.tag == "th":
                    headers.append(th.text().strip())
        data_rows = trs
        start_idx = 1 if headers else 0

        if 2 <= len(headers) <= 6:
            # RAW interpolation like the reference template literals
            # (markdown.ts:340,354,379-384): cell text is NOT escaped
            # before the rebuild re-parse, so text containing markup
            # re-parses as markup there — faithfully
            thead_row = "<tr>" + "".join(f"<th>{h}</th>" for h in headers) + "</tr>"
            tbody_rows: List[str] = []
            ROW_CAP = 50
            total = len(data_rows) - start_idx
            for r in range(start_idx, min(len(data_rows), start_idx + ROW_CAP)):
                cells: List[str] = []
                for td in data_rows[r].element_children():
                    if td.tag not in ("td", "th"):
                        continue
                    # parseInt('50%')=50, parseInt('abc')=NaN -> zero
                    # cells pushed (s < NaN is false) — markdown.ts:348
                    span = _js_parse_int(td.get("colspan") or "1")
                    text = td.text().strip()
                    for _ in range(max(0, min(span, 6)) if span is not None
                                   else 0):
                        cells.append(text)
                while len(cells) < len(headers):
                    cells.append("")
                tbody_rows.append(
                    "<tr>" + "".join(f"<td>{c}</td>" for c in cells[: len(headers)]) + "</tr>"
                )
            if total > ROW_CAP:
                tbody_rows.append(
                    f'<tr><td colspan="{len(headers)}">... ({ROW_CAP} of {total} rows shown)</td></tr>'
                )
            table.replace_with_html(
                f"<table><thead>{thead_row}</thead><tbody>{''.join(tbody_rows)}</tbody></table>"
            )
            continue

        # wide / headerless tables → list items
        li_items: List[str] = []
        ROW_CAP_LIST = 50
        total = len(data_rows) - start_idx
        for r in range(start_idx, min(len(data_rows), start_idx + ROW_CAP_LIST)):
            cells = []
            for td in data_rows[r].element_children():
                if td.tag not in ("td", "th"):
                    continue
                span = _js_parse_int(td.get("colspan") or "1")
                text = td.text().strip()
                for _ in range(max(0, min(span, 3)) if span is not None
                               else 0):
                    cells.append(text)
            if any(cells):
                if headers:
                    parts = [
                        f"<strong>{headers[j]}:</strong> {c}" if (j < len(headers) and headers[j] and c) else c
                        for j, c in enumerate(cells)
                    ]
                    parts = [p for p in parts if p]
                    li_items.append("<li>" + " &middot; ".join(parts) + "</li>")
                else:
                    li_items.append("<li>" + " &middot; ".join(c for c in cells if c) + "</li>")
        if total > ROW_CAP_LIST:
            li_items.append(f"<li><em>... ({ROW_CAP_LIST} of {total} rows shown)</em></li>")
        if li_items:
            table.replace_with_html("<ul>" + "".join(li_items) + "</ul>")


def clean_html(html: str) -> str:
    """Junk removal + table normalization; returns serialized document."""
    if len(html) > MAX_HTML_BYTES:
        raise ValueError("HTML too large to process (max 10MB)")
    root = parse_html(html)
    _clean_dom(root)
    html_el = next((c for c in root.children if isinstance(c, Node)), None)
    return html_el.html() if html_el is not None else ""


# ── main content detection (markdown.ts:416-493) ─────────────────────────

MAIN_CONTENT_SELECTORS = [
    'article[role="main"]',
    'main article',
    '[role="main"] article',
    'article',
    '[role="main"]',
    'main',
    '.post-content', '.article-content', '.article-body', '.entry-content',
    '.post-body', '.story-body', '.page-content',
    '#content', '#main-content', '#article', '#post',
    '.content', '.main-content',
    '.prose', '.markdown-body', '.post-text', '.article__body',
    '.story-content', '.entry-text', '.post-entry',
    '[itemprop="articleBody"]', '[data-article-body]',
    '.blog-post-content', '.blog-content',
]


_MAIN_MATCHER = PriorityMatcher(MAIN_CONTENT_SELECTORS)



def detect_main_content(html: str) -> Tuple[str, bool]:
    """Returns (content_html, detected)."""
    root = parse_html(html)
    el, detected = detect_main_content_dom(root)
    if not detected or el is None:
        return html, False
    return el.html(), True


def detect_main_content_dom(root: Node) -> Tuple[Optional[Node], bool]:
    """DOM form of detect_main_content: (matched node | None, detected).
    Lets the caller reuse an existing parse instead of re-parsing.

    Only LENGTHS of stripped text are compared here, so the
    ``len(text().strip())`` expressions compute via _stripped_len
    (total minus edge-whitespace runs) — no concatenated strings are
    ever built; values are identical by construction."""
    total_text_len = _stripped_len(_collect_visible(root))

    first = _MAIN_MATCHER.first_matches(root)
    for i, selector in enumerate(MAIN_CONTENT_SELECTORS):
        el = first.get(i)
        if el is not None:
            if _stripped_len(_text_parts(el)) >= 100:
                candidate_len = _stripped_len(_collect_visible(el))
                if total_text_len > 0 and candidate_len / total_text_len < 0.5:
                    return None, False
                return el, True

    best_el: Optional[Node] = None
    best_len = 0
    body = document_body(root)
    for el in root.iter_elements():
        if el.tag not in ("div", "section"):
            continue
        text_len = _stripped_len(_text_parts(el))
        if text_len > best_len and text_len >= 200:
            parent = el.parent
            if parent is not None and parent.tag not in ("body", "html", "#root"):
                best_el = el
                best_len = text_len
    if best_el is not None and best_len > 300:
        if total_text_len > 0 and best_len / total_text_len < 0.5:
            return None, False
        return best_el, True
    return None, False


def _collect_visible(el: Node) -> List[str]:
    parts: List[str] = []
    stack = list(reversed(el.children))
    while stack:
        c = stack.pop()
        if isinstance(c, str):
            parts.append(c)
        elif c.tag not in ("script", "style", "noscript"):
            stack.extend(reversed(c.children))
    return parts


def _stripped_len(parts: List[str]) -> int:
    """``len("".join(parts).strip())`` without building the joined
    string: total minus the leading/trailing whitespace runs."""
    total = sum(len(p) for p in parts)
    lead = 0
    for p in parts:
        ls = len(p) - len(p.lstrip())
        lead += ls
        if ls < len(p):
            break
    if lead >= total:
        return 0
    trail = 0
    for p in reversed(parts):
        rs = len(p) - len(p.rstrip())
        trail += rs
        if rs < len(p):
            break
    return total - lead - trail


def _text_parts(el: Node) -> List[str]:
    """All text descendants in document order (``Node.text()`` without
    the final join)."""
    parts: List[str] = []
    stack = list(reversed(el.children))
    while stack:
        c = stack.pop()
        if isinstance(c, str):
            parts.append(c)
        else:
            stack.extend(reversed(c.children))
    return parts


# ── quality score (markdown.ts:499-536) ─────────────────────────────────

_FORMATTING_RE = re.compile(r"[#*_\[\]\(\)\-`|>]")
_HEADING_RE = re.compile(rf"^#{{1,6}}{JS_WS}", re.M)


def calculate_quality(content: str, original_html: str) -> float:
    if not content or len(content) < 10:
        return 0.0
    content_len = len(content)
    html_len = len(original_html)

    compression_ratio = min(content_len / max(html_len, 1), 1)
    if compression_ratio < 0.01:
        compression_score = 0.3
    elif compression_ratio < 0.05:
        compression_score = 0.7
    elif compression_ratio < 0.40:
        compression_score = 1.0
    elif compression_ratio < 0.60:
        compression_score = 0.8
    else:
        compression_score = 0.5

    text_only = _FORMATTING_RE.sub("", content)
    text_density = len(text_only.strip()) / max(content_len, 1)
    density_score = min(text_density / 0.7, 1)

    has_headings = 1.0 if _HEADING_RE.search(content) else 0.7
    has_paragraphs = 1.0 if len(content.split("\n\n")) > 2 else 0.8

    if content_len < 50:
        length_score = 0.3
    elif content_len < 200:
        length_score = 0.6
    elif content_len < 50000:
        length_score = 1.0
    else:
        length_score = 0.8

    quality = (
        compression_score * 0.3
        + density_score * 0.3
        + (has_headings * has_paragraphs) * 0.2
        + length_score * 0.2
    )
    # Math.round semantics (half toward +∞, markdown.ts:535), not
    # Python's banker's round — 0.125*100=12.5 must become 13 not 12
    from .cli_helpers import _js_round

    return _js_round(quality * 100) / 100


# ── htmlToMarkdown (markdown.ts:586-684) ─────────────────────────────────

_TRAIL_CUT_PATTERNS = [re.compile(p, re.I | re.M) for p in (
    rf"^#{{1,3}}{JS_WS}*(explore other jobs|discover opportunities beyond)",
    rf"^#{{1,3}}{JS_WS}*(jobs with similar titles)",
    rf"^#{{1,3}}{JS_WS}*(similar job categories)",
    rf"^#{{1,3}}{JS_WS}*(career guide articles)",
    rf"^#{{1,3}}{JS_WS}*(similar jobs nearby)",
    rf"^#{{1,3}}{JS_WS}*(company and salary information)",
)]

# superset pre-gate: if NO pattern matches anywhere, the in-order loop
# below is a no-op — one scan replaces six on the common clean page
_TRAIL_CUT_ANY_RE = re.compile(
    "|".join("(?:%s)" % p.pattern for p in _TRAIL_CUT_PATTERNS), re.I | re.M)

_HEADING_PREFIX_RE = re.compile(rf"^#{{1,6}}{JS_WS}*")

_CTA_LINE_REGEXES = [re.compile(p, re.I) for p in (
    r"^(is your resume a good match|are you open to new opportunities)\??$",
    r"^upload your resume to increase your chances",
    r"^use ai to find out how well",
    r"^do you have (experience in|a )",
    r"^find out how your skills align",
    r"^show more(chevron down)?$",
    r"^\[?(share|follow|flag|report)\]?(\(.*\))?$",
    r"^\[?improve this (question|answer)\]?",
    r"^(sorted by|highest score|trending|date modified|date created)",
    rf"^\[?(edited|answered|asked){JS_WS}+[0-9A-Za-z_]+{JS_WS}+[0-9]",  # JS \w,\d=ASCII
    r"^community wiki$",
    rf"^[0-9]+{JS_WS}*(answers?|votes?|views?){JS_WS}*[0-9]*$",
    r"^\[?reset to default\]?",
    r"^\[?(bookmark|save|pin|mute|hide|block)\]?(\(.*\))?$",
    r"^\[?(reply|retweet|repost|quote)\]?(\(.*\))?$",
    rf"^\[?copy{JS_WS}*(link|url)?\]?(\(.*\))?$",
    rf"^(sign up|log in|create account|join now){JS_WS}*(to|for)?",
)]

_CTA_EXACT = {
    "upload resume", "upload your resume",
    "apply now", "apply on employer site", "apply on employer siteapply now",
    "easy apply", "save job", "easy apply onlyremote only",
    "company rating", "date posted", "salary range",
    "yesno", "yes no",
    "profile insights", "find out how your skills align",
    "save-icon", "loading", "report job",
    "whatwherefind jobs",
}


# one alternation == any() over the table (pure existence test, so OR
# of the patterns is boolean-identical; per-pattern order is immaterial)
_CTA_COMBINED_RE = re.compile(
    "|".join("(?:%s)" % p.pattern for p in _CTA_LINE_REGEXES), re.I)


def _is_cta_noise_line(line: str) -> bool:
    trimmed = _HEADING_PREFIX_RE.sub("", line.strip().lower())
    if trimmed in _CTA_EXACT:
        return True
    return _CTA_COMBINED_RE.search(trimmed) is not None


def _collapse_blank_runs(markdown: str) -> str:
    """Successive blank lines collapse to one blank line (markdown.ts:613-619)."""
    lines = markdown.split("\n")
    if not lines:
        return markdown
    acc = lines[0]
    for i in range(1, len(lines)):
        prev_empty = lines[i - 1].strip() == ""
        curr_empty = lines[i].strip() == ""
        if prev_empty and curr_empty:
            continue
        acc += "\n" + lines[i]
    return acc


def html_to_markdown(html, prune: bool = True) -> str:
    """Full conversion pipeline: clean → prune → emit → post-clean.

    Accepts an HTML string or an already-parsed document ``Node`` (the
    pipeline parses each page once and passes the DOM through; the
    string form serializes/re-parses exactly as before).  The Node is
    MUTATED (cleaned in place).
    """
    if isinstance(html, Node):
        root = html
        _clean_dom(root)
        if prune:
            # the pruner's regex pre-pass is defined on the serialized
            # string (content-pruner.ts:323-333) — keep the string path
            cleaned = _serialize_doc(root)
            cleaned = prune_content(cleaned, dynamic=True).html
            froot = parse_html(cleaned)
            body = _conv_root(froot)
        else:
            froot = root
            body = _conv_root(root)
        try:
            markdown = node_to_markdown(body)
        except Exception:
            # the reference's catch loads cleanedHTML — the PRUNED
            # document when pruning ran (markdown.ts:599-605), so the
            # fallback text must come from froot, not the unpruned root
            for el in select(froot, "script, style, noscript, svg, iframe"):
                el.remove()
            markdown = js_trim(collapse_ws(froot.text()))
        return _post_markdown(markdown)

    cleaned = clean_html(html)
    if prune:
        cleaned = prune_content(cleaned, dynamic=True).html

    try:
        markdown = node_to_markdown(_conv_of(cleaned))
    except Exception:
        root = parse_html(cleaned)
        for el in select(root, "script, style, noscript, svg, iframe"):
            el.remove()
        markdown = js_trim(collapse_ws(root.text()))

    return _post_markdown(markdown)


def _post_markdown(markdown: str) -> str:
    if len(markdown) > MAX_MARKDOWN_BYTES:
        markdown = markdown[:MAX_MARKDOWN_BYTES]

    markdown = _collapse_blank_runs(markdown)
    markdown = "\n".join(
        line for line in markdown.split("\n") if not _is_cta_noise_line(line)
    )

    if _TRAIL_CUT_ANY_RE.search(markdown) is not None:
        for pattern in _TRAIL_CUT_PATTERNS:
            m = pattern.search(markdown)
            if m is not None and m.start() > len(markdown) * 0.6:
                markdown = markdown[: m.start()].strip()
                break

    return markdown.strip()


def _conv_root(root: Node) -> Node:
    """The conversion tree turndown sees.

    Turndown wraps the input string in ``<x-turndown>`` and re-parses;
    for a full document the ``<html>``/``<head>``/``<body>`` tokens
    dissolve (in-body parsing ignores them) but head CHILDREN like
    ``<title>`` stay in the tree before the body content — and title,
    having no rule, emits its text (so reference markdown of an
    undetected page STARTS with the page title).  Converting the
    ``<html>`` element reproduces that: head is neither skipped nor a
    block, so it is a transparent inline container around the title.
    Fragments (no <html> wrapper) convert as before."""
    if root.tag != "#root":
        return root
    first = next((c for c in root.children if isinstance(c, Node)), None)
    if first is not None and first.tag == "html":
        return first
    return root


def _conv_of(html: str) -> Node:
    return _conv_root(parse_html(html))


def _serialize_doc(root: Node) -> str:
    """Serialize like clean_html: the <html> element's outer HTML."""
    if root.tag != "#root":
        return root.html()
    html_el = next((c for c in root.children if isinstance(c, Node)), None)
    return html_el.html() if html_el is not None else ""


def raw_html_to_markdown(html: str) -> str:
    """Turndown pass with only script/style/noscript removal (markdown.ts:693-718)."""
    root = parse_html(html)
    for el in select(root, "script, style, noscript"):
        el.remove()
    try:
        markdown = node_to_markdown(_conv_root(root))
    except Exception:
        markdown = js_trim(collapse_ws(root.text()))
    return _collapse_blank_runs(markdown).strip()


def html_to_text(html: str) -> str:
    """Structured plain-text extraction (markdown.ts:724-747)."""
    cleaned = clean_html(html)
    root = parse_html(cleaned)
    parts: List[str] = []
    for el in root.iter_elements():
        if el.tag in ("h1", "h2", "h3", "h4", "h5", "h6", "p", "li"):
            content = js_trim(el.text())
            if content:
                parts.append(content + "\n\n")
    text = "".join(parts)
    if not js_trim(text):
        body = document_body(root)
        text = body.text() if body is not None else root.text()
    text = re.sub(r"\n{3,}", "\n\n", text)
    text = re.sub(r"[ \t]+", " ", text)
    return js_trim(text)


def estimate_tokens(text: str) -> int:
    """~4 chars/token (markdown.ts:753-755)."""
    return math.ceil(len(text) / 4)


def truncate_to_token_budget(content: str, max_tokens: int) -> str:
    """Heading-preserving budget truncation (markdown.ts:761-805)."""
    if estimate_tokens(content) <= max_tokens:
        return content
    lines = content.split("\n")
    result: List[str] = []
    current = 0
    found_first_heading = False
    for line in lines:
        line_tokens = estimate_tokens(line)
        is_heading = re.match(rf"^#{{1,6}}{JS_WS}", line) is not None
        if not found_first_heading and is_heading:
            result.append(line)
            current += line_tokens
            found_first_heading = True
            continue
        if current + line_tokens > max_tokens:
            break
        result.append(line)
        current += line_tokens
    result.append("")
    result.append(f"[Content truncated to ~{max_tokens} tokens]")
    return "\n".join(result)


def clean_for_ai(markdown: str) -> str:
    """Strip link/image syntax for clean text (markdown.ts:812-833)."""
    result = re.sub(
        r"!\[([^\]]*)\]\([^)]+\)",
        lambda m: f"[Image: {m.group(1)}]" if m.group(1) else "",
        markdown,
    )
    result = re.sub(r"\[([^\]]+)\]\([^)]+\)", r"\1", result)
    result = re.sub(rf"^\[[0-9A-Za-z_-]+\]:{JS_WS}+{JS_NWS}.*$", "", result, flags=re.M)
    result = re.sub(r"^https?://\S+$", "", result, flags=re.M)
    result = re.sub(r"<!--[\s\S]*?-->", "", result)
    result = re.sub(rf"\[{JS_WS}*\]", "", result)
    result = re.sub(r"\[([0-9]+)\]", "", result)
    result = re.sub(r"\n{3,}", "\n\n", result)
    result = re.sub(r"[ \t]+$", "", result, flags=re.M)
    return result.strip()


_LINK_RE = re.compile(r"\[([^\]]+)\]\([^)]+\)")
_EMPTY_LINK_RE = re.compile(rf"\[{JS_WS}*\]\([^)]+\)")
_EMPTY_IMG_LINK_RE = re.compile(r"\[\!\[\]\([^)]+\)\]\([^)]+\)")
_BLANK3_RE = re.compile(r"\n{3,}")
_TRAIL_WS_RE = re.compile(r"[ \t]+$", re.M)
_BUTTON_TEXT_RE = re.compile(rf"^Button Text{JS_WS}*$", re.M)


def clean_markdown_noise(content: str) -> str:
    """Empty links, repeated-CTA collapse, Button Text (markdown.ts:839-884)."""
    result = _EMPTY_LINK_RE.sub("", content)
    result = _EMPTY_IMG_LINK_RE.sub("", result)
    result = _BLANK3_RE.sub("\n\n", result)
    result = _TRAIL_WS_RE.sub("", result)
    result = result.strip()

    link_text_counts: Dict[str, int] = {}
    for m in _LINK_RE.finditer(result):
        text = m.group(1).strip().lower()
        link_text_counts[text] = link_text_counts.get(text, 0) + 1

    for text, count in link_text_counts.items():
        if count >= 5:
            escaped = re.escape(text)
            spam = re.compile(r"\[" + escaped + r"\]\([^)]+\)", re.I)
            kept = 0

            def _keep2(m, _counter=[0]):
                _counter[0] += 1
                return m.group(0) if _counter[0] <= 2 else ""

            result = spam.sub(_keep2, result)

    result = _BUTTON_TEXT_RE.sub("", result)
    result = _BLANK3_RE.sub("\n\n", result).strip()
    return result
