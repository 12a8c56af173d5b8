"""Per-document extraction pipeline (batch form).

The batch-engine equivalent of the reference's stage list
(/root/reference/src/core/pipeline.ts): content-type routing (:805-835),
parseContent decision tree (:845-1219) — JSON-LD first-class gate
(:914-939), readable fast-path with <15% veto (:944-989), main-content
detection, ≥20KB pruning (:1037-1045), markdown conversion + noise
cleanup (:1074-1131), quality (:1133), JSON/XML/text branches
(:1135-1194) — and the domain-extractor second pass (:1363-1387).

Everything here is a pure function of (url, payload bytes, options):
no network, no I/O — exactly what a vectorized Arrow UDF wants.
Fetching/browser escalation (pipeline.ts:525-796) is out of scope: the
input table already holds the page bytes.
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Any, Dict, List, NamedTuple, Optional

from ..dom import parse_html, parse_xml, select, select_first, document_body
from . import markdown as md
from .chunker import chunk_content
from .extractors import extract_domain_data, get_domain_extractor
from .jsonld import collect_anchors_and_ld, extract_jsonld_scripts
from .langdetect import detect_language_from_url, detect_language_ngram
from .links import link_pairs_from_anchors
from .metadata import extract_metadata, links_from_anchors
from .docx import is_docx_bytes
from .pdfextract import is_pdf_bytes
from .extractors.pdfurl import pdf_extract_result
from .readability import extract_readable_content


class ExtractOptions(NamedTuple):
    readable: bool = False
    chunk: bool = True
    caption_images: bool = False   # heuristic alt-text enhancement
    # (pipeline.ts:853-860 captionImages opt-in)
    lite: bool = False             # minimal processing, maximum speed
    # (pipeline.ts:895-911: optional selector → bare markdown conversion
    # with prune=False; skips metadata/JSON-LD/readability/detection/
    # pruner/quality and postProcess, pipeline.ts:1236)
    selector: str = ""             # CSS-scoped extraction (pipeline.ts:999)
    exclude: tuple = ()            # selectors removed before conversion
    include_tags: tuple = ()       # filterByTags allow-list (pipeline.ts:995)
    exclude_tags: tuple = ()       # filterByTags deny-list
    # (the reference's fullPage flag is NOT a field: its only pipeline
    # effects are skipping the ≥20KB pruner (:1037) and the readability
    # fast-path (:944), and no batch caller skips either.)


DEFAULT_OPTIONS = ExtractOptions()

_XML_SNIFF_RE = re.compile(r"^\s*<\?xml|^\s*<(rss|feed)[\s>]", re.I)
_URL_RE = re.compile(r"https?://[^\s\"'`,\]})]+")


def detect_content_type(url: str, payload: bytes) -> str:
    """Magic-byte/sniff routing (detectContentType without HTTP headers)."""
    if is_pdf_bytes(payload):
        return "document"
    url_lower = url.lower()
    if url_lower.endswith(".pdf") or url_lower.endswith(".docx"):
        return "document"
    if payload.startswith(b"PK\x03\x04") and is_docx_bytes(payload):
        return "document"
    if any(url_lower.endswith(ext) for ext in
           (".png", ".jpg", ".jpeg", ".gif", ".webp", ".tiff", ".tif", ".bmp")):
        return "image"
    text = payload.decode("utf-8", errors="replace")
    stripped = text.lstrip()
    if _XML_SNIFF_RE.match(text):
        return "xml"
    if stripped.startswith("<"):
        return "html"
    if stripped[:1] in ("{", "["):
        try:
            json.loads(text)
            return "json"
        except Exception:
            pass
    return "text"


def _sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _empty_result(url: str) -> Dict[str, Any]:
    return {
        "url": url, "status": "ok", "error": None, "branch": "html",
        "extractor": "", "title": "", "content": "", "description": None,
        "author": None, "published": None, "language": None, "canonical": None,
        "image": None, "word_count": 0, "token_estimate": 0, "quality": 0.0,
        "links": [], "link_count": 0, "link_pairs": [],
        "chunks": [], "fingerprint": _sha256(""),
        "content_len": 0, "html_len": 0, "pruned_percent": 0, "method": "generic",
        "auth_required": False, "injection_detected": False,
    }


def extract_page(url: str, payload: bytes,
                 options: ExtractOptions = DEFAULT_OPTIONS) -> Dict[str, Any]:
    """Extract one stored page.  Never raises — per-row error isolation
    (peelBatch semantics, index.ts:277-313: errors become error rows)."""
    try:
        return _extract_page_inner(url, payload, options)
    except Exception as e:  # noqa: BLE001 — isolate any row failure
        result = _empty_result(url)
        result["status"] = "error"
        result["error"] = f"{type(e).__name__}: {e}"
        return result


def _extract_page_inner(url: str, payload: bytes,
                        options: ExtractOptions) -> Dict[str, Any]:
    result = _empty_result(url)
    content_type = detect_content_type(url, payload)
    result["html_len"] = len(payload)

    if content_type == "document":
        return _pdf_branch(url, payload, options, result)
    if content_type == "image":
        # OCR branch (pipeline.ts:862-877); the engine binding lives
        # behind the pure/ocr.py seam (returns "" with no engine
        # installed — the reference's no-text outcome)
        from .ocr import extract_text_from_image

        ocr_text = extract_text_from_image(payload)
        result["branch"] = "image"
        if ocr_text:
            result["content"] = f"# OCR Text Extraction\n\n{ocr_text}"
        else:
            result["content"] = ("# OCR Text Extraction\n\n"
                                 "*(No text detected in image)*")
        result["quality"] = 0.8 if len(ocr_text) > 10 else 0.1
        return _finish(result, options)

    text = payload.decode("utf-8", errors="replace")

    if content_type == "json":
        return _json_branch(url, text, options, result)
    if content_type == "xml":
        return _xml_branch(url, text, options, result)
    if content_type == "text":
        result["branch"] = "text"
        result["content"] = text
        result["title"] = url.split("/")[-1] or "Text Document"
        result["links"] = list(dict.fromkeys(_URL_RE.findall(text)))
        result["quality"] = 1.0
        result["language"] = detect_language_ngram(text)
        return _finish(result, options)

    return _html_branch(url, text, options, result)


def _pdf_branch(url: str, payload: bytes, options: ExtractOptions,
                result: Dict[str, Any]) -> Dict[str, Any]:
    if not is_pdf_bytes(payload) and is_docx_bytes(payload):
        return _docx_branch(url, payload, options, result)
    result["branch"] = "pdf"
    dd = pdf_extract_result(payload, url)
    if dd is None:
        result["status"] = "error"
        result["error"] = "PDF parsing failed"
        return result
    result["content"] = dd.clean_content
    result["title"] = str(dd.structured.get("title") or "")
    result["author"] = dd.structured.get("author") or None
    result["extractor"] = "pdf"
    result["method"] = "pdf"
    result["quality"] = 1.0  # documents are inherently structured (pipeline.ts:891)
    result["language"] = detect_language_ngram(dd.clean_content)
    return _finish(result, options)


def _docx_branch(url: str, payload: bytes, options: ExtractOptions,
                 result: Dict[str, Any]) -> Dict[str, Any]:
    """DOCX → semantic HTML → markdown (documents.ts:124-157: mammoth
    HTML feeds htmlToMarkdown; title = url basename sans extension,
    'Word Document' fallback)."""
    from .docx import docx_to_html

    result["branch"] = "docx"
    html = docx_to_html(payload)
    if html is None:
        result["status"] = "error"
        result["error"] = "DOCX parsing failed"
        return result
    basename = url.rstrip("/").split("/")[-1]
    title = basename.rsplit(".", 1)[0] if "." in basename else basename
    result["title"] = title or "Word Document"
    result["content"] = md.html_to_markdown(html, prune=False)
    result["extractor"] = "docx"
    result["method"] = "docx"
    result["quality"] = 1.0  # documents are inherently structured
    result["language"] = detect_language_ngram(result["content"])
    return _finish(result, options)


def _json_branch(url: str, text: str, options: ExtractOptions,
                 result: Dict[str, Any]) -> Dict[str, Any]:
    result["branch"] = "json"
    try:
        parsed = json.loads(text)
        result["content"] = json.dumps(parsed, indent=2, ensure_ascii=False)
        result["title"] = "JSON Response"
        result["links"] = list(dict.fromkeys(_URL_RE.findall(result["content"])))
    except Exception:
        result["content"] = text
        result["title"] = "JSON Response (malformed)"
    result["quality"] = 1.0
    return _finish(result, options)


def _xml_branch(url: str, text: str, options: ExtractOptions,
                result: Dict[str, Any]) -> Dict[str, Any]:
    result["branch"] = "xml"
    try:
        root = parse_xml(text)
        items = select(root, "item, entry")
        if items:
            title_el = select_first(root, "channel > title, feed > title")
            result["title"] = (title_el.text().strip() if title_el is not None else "") or "RSS/Atom Feed"
            feed_items: List[str] = []
            links: List[str] = []
            for el in items:
                item_title_el = next((e for e in el.iter_elements() if e.tag == "title"), None)
                item_title = item_title_el.text().strip() if item_title_el is not None else ""
                link_el = next((e for e in el.iter_elements() if e.tag == "link"), None)
                item_link = ""
                if link_el is not None:
                    item_link = link_el.text().strip() or (link_el.get("href") or "")
                desc_el = next(
                    (e for e in el.iter_elements() if e.tag in ("description", "summary", "content")),
                    None,
                )
                item_desc = (desc_el.text().strip() if desc_el is not None else "")[:200]
                feed_items.append(f"## {item_title}\n{item_link}\n{item_desc}")
                if item_link:
                    links.append(item_link)
            result["content"] = f"# {result['title']}\n\n" + "\n\n---\n\n".join(feed_items)
            result["links"] = links
        else:
            result["content"] = text
            title_el = select_first(root, "title")
            result["title"] = (title_el.text().strip() if title_el is not None else "") or "XML Document"
    except Exception:
        result["content"] = text
        result["title"] = "XML Document"
    result["quality"] = 0.9
    return _finish(result, options)


def _wrap_fragment_dom(node):
    """Detach a detected main-content node and rebuild the document
    structure a re-parse of its serialized HTML would produce
    (#root > html > (head, body > node)) — sparing the serialize→parse
    round trip on the hot path."""
    from ..dom import Node

    node.remove()
    root = Node("#root")
    html_el = Node("html")
    head = Node("head")
    body = Node("body")
    root.append_child(html_el)
    html_el.append_child(head)
    html_el.append_child(body)
    body.append_child(node)
    return root


def _lite_branch(url: str, html: str, options: ExtractOptions,
                 result: Dict[str, Any]) -> Dict[str, Any]:
    """Lite mode — minimal processing, maximum speed (pipeline.ts:895-911).

    Optional CSS selection, then a bare markdown conversion with
    ``prune=False``: no metadata/link extraction, no JSON-LD gate, no
    readability, no main-content detection, no markdown noise cleanup
    or pruner, no computed quality, and no postProcess
    (pipeline.ts:1236).
    Title is a raw ``<title>`` regex over the (selected) html
    (pipeline.ts:909); quality is pinned 0.5 ("unknown",
    pipeline.ts:910)."""
    result["method"] = "lite"
    lite_html = html
    if options.selector:
        lite_html = md.select_content(lite_html, options.selector,
                                      list(options.exclude) or None)
    # parse once and hand the DOM to the converter — the string form
    # costs clean_html's serialize + a re-parse (byte-equivalence of the
    # two forms is pinned by the lite identity cases in
    # tests/test_lite_mode.py).  >10MB pages keep the string path so the
    # clean_html size cap raises exactly as before (markdown.ts:233).
    source = (parse_html(lite_html)
              if len(lite_html) <= md.MAX_HTML_BYTES else lite_html)
    result["content"] = md.html_to_markdown(source, prune=False)
    m = _TITLE_RE.search(lite_html)
    result["title"] = m.group(1).strip() if m else ""
    result["quality"] = 0.5
    return _finish(result, options)


_TITLE_RE = re.compile(r"<title[^>]*>([^<]*)</title>", re.I)
_MD_PUNCT_RE = re.compile(r"[#*_`\[\]\(\)>|-]")


def _html_branch(url: str, html: str, options: ExtractOptions,
                 result: Dict[str, Any]) -> Dict[str, Any]:
    result["branch"] = "html"

    if options.caption_images:
        # pipeline.ts:853-860 — runs BEFORE any conversion, so
        # metadata, links and both output modes see the enhanced alts
        # (and the comment there: "both lite mode and standard mode
        # benefit" — hence before the lite dispatch)
        from .image_caption import enhance_image_alt_text

        html = enhance_image_alt_text(html)

    if options.lite:
        return _lite_branch(url, html, options, result)

    # From here on, `html` is the RAW document — the reference's
    # fetchResult.html.  The JSON-LD gate (pipeline.ts:917), the
    # readable fast-path (:944) and the postProcess domain pass (:1363)
    # all read it directly; filterByTags / selector / exclude are
    # stages of the STANDARD path only (:994-1007), so e.g.
    # exclude_tags=('script',) must not disable the JSON-LD gate.

    # ONE raw-document parse + one fused walk (anchors AND ld+json
    # scripts; equivalence pinned by tests/test_walk_fusion.py), shared
    # by every stage below — and by the standard path too unless a
    # filter/selector option rewrites the document.  (The reference
    # re-loads cheerio per stage; per-row batch extraction can't.)
    # LAZY: with a selector set, the JSON-LD/readable gates are
    # skipped AND the standard path parses the selected fragment
    # instead, so no stage reads the raw tree — eagerly parsing it
    # would double per-page DOM cost on the selector path for nothing.
    _raw = []

    def _raw_walk():
        """(root, anchors, ld_scripts) of the RAW document, parsed and
        walked on first use."""
        if not _raw:
            r = parse_html(html)
            a, ld = collect_anchors_and_ld(r)
            _raw.append((r, a, ld))
        return _raw[0]

    # language is a port addition (the reference's field comes from
    # request options, :423): meta/TLD when declared, else an n-gram
    # guess over the FINAL content — so a path-level guess must be
    # recomputed if the domain pass replaces the content
    lang_is_ngram = False

    def _fill_meta(doc_html: str, doc_anchors) -> None:
        """Metadata + link fields from ``doc_html``/``doc_anchors``.
        Which document that is depends on the path, exactly as in the
        reference: raw html for the jsonld/readability early returns
        (pipeline.ts:930, :955), the filtered/selected html for the
        standard path (:1014)."""
        title, meta = extract_metadata(doc_html, url)  # head-slice parse
        result["title"] = title
        result["description"] = meta.description
        result["author"] = meta.author
        result["published"] = meta.publish_date or meta.published
        result["language"] = meta.language or detect_language_from_url(url)
        result["canonical"] = meta.canonical
        result["image"] = meta.image
        # one anchors list feeds both the url-only list and {url,text}
        result["links"] = links_from_anchors(doc_anchors, url)
        result["link_pairs"] = link_pairs_from_anchors(doc_anchors, url)

    def _raw_capped_anchors():
        """Link-extraction input for the early returns: raw html capped
        at 100k UNCONDITIONALLY (pipeline.ts:931-933, :957-959) — the
        capped string is a different document; parse it separately.
        The standard path caps only under a budget (:1023-1026),
        which no batch run sets."""
        if len(html) > 100000:
            return select(parse_html(html[:100000]), "a[href]")
        return _raw_walk()[1]

    def _domain_then_finish(res: Dict[str, Any]) -> Dict[str, Any]:
        """postProcess domain pass (pipeline.ts:1361-1387): fires on the
        RAW html whenever the url has a registered extractor — NOT
        gated on selector (only lite skips postProcess, :1236) —
        and replaces content + title.  method/quality here are port
        diagnostics: the reference's `method` field is the FETCH method
        (:1840) and its postProcess keeps the prior path's quality."""
        dd = extract_domain_data(html, url)
        if dd is None and res.get("content"):
            # second pass on the already-extracted content — some SPAs
            # (Google Flights) only expose data after readability
            # processing ("Try raw HTML first, then fall back to
            # readability-processed content", pipeline.ts:1366-1371)
            dd = extract_domain_data(res["content"], url)
        if dd is not None and dd.type != "pdf":
            res["content"] = dd.clean_content
            res["extractor"] = dd.domain
            res["method"] = "domain"
            if dd.structured.get("title"):
                res["title"] = str(dd.structured["title"])
            res["quality"] = 0.9
            if not res["language"] or lang_is_ngram:
                res["language"] = detect_language_ngram(dd.clean_content)
        return _finish(res, options)

    # JSON-LD first-class gate (pipeline.ts:914-939): raw html, gated
    # on the selector OPTION alone (tag filters don't disable it)
    if not options.selector:
        jl = extract_jsonld_scripts(_raw_walk()[2])
        if jl is not None and jl.found and len(jl.content) > 100:
            _fill_meta(html, _raw_capped_anchors())
            result["content"] = jl.content
            result["title"] = jl.title or result["title"]
            result["method"] = "jsonld:" + jl.type
            result["quality"] = 0.95
            if not result["language"]:
                result["language"] = detect_language_ngram(jl.content)
                lang_is_ngram = True
            return _domain_then_finish(result)

    # Readable fast-path (pipeline.ts:944-989) with <15%-of-body veto —
    # on the raw html (filterByTags is a standard-path stage)
    if options.readable and not options.selector:
        read = extract_readable_content(html, url)
        html_text_len = len(re.sub(r"\s+", " ", re.sub(r"<[^>]+>", "", html)).strip())
        readable_len = len(read.content or "")
        failed = html_text_len > 2000 and readable_len > 0 and readable_len < html_text_len * 0.15
        if not failed:
            _fill_meta(html, _raw_capped_anchors())
            result["content"] = read.content
            result["title"] = read.title or result["title"]
            result["author"] = read.author or result["author"]
            result["published"] = read.date or result["published"]
            result["language"] = read.language or result["language"]
            result["method"] = "readability"
            result["quality"] = 0.95 if len(read.content) > 200 else 0.5
            return _domain_then_finish(result)

    # ── Standard path (pipeline.ts:992-1133) ──
    # Include/exclude tag filtering FIRST, before selector (:994-997);
    # then CSS-scoped extraction (:999-1007): the selected fragment
    # REPLACES the document for metadata, links and conversion, and
    # main-content detection is skipped (`!selector`, :1011).
    filtered = html
    if options.include_tags or options.exclude_tags:
        filtered = md.filter_by_tags(filtered,
                                     list(options.include_tags) or None,
                                     list(options.exclude_tags) or None)
    selected = False
    if options.selector:
        filtered = md.select_content(filtered, options.selector,
                                     list(options.exclude) or None)
        selected = True
    elif options.exclude:
        root0 = parse_html(filtered)
        removed = False
        for sel in options.exclude:
            for el in select(root0, sel):
                el.remove()
                removed = True
        if removed:
            filtered = root0.inner_html()

    froot = _raw_walk()[0] if filtered is html else parse_html(filtered)

    # metadata + links from the (possibly) filtered document (:1014-1030)
    if filtered is html:
        std_anchors = _raw_walk()[1]
    else:
        std_anchors = select(froot, "a[href]")
    _fill_meta(filtered, std_anchors)

    # Main-content detection → prune (≥20KB) → convert.
    # content is the filtered string, a detected fragment (serialized —
    # the 20KB gate and pruner regex pre-pass are defined on the string),
    # or the shared parsed DOM for the common undetected-markdown case.
    content_html = filtered
    content_dom = froot  # parsed DOM matching content_html
    detected = False
    if not selected:
        node, detected = md.detect_main_content_dom(froot)
        if detected and node is not None:
            # serialized length feeds the 20KB prune gate; the wrapped
            # DOM (#root>html>body>fragment — the exact shape re-parsing
            # the serialized fragment yields) feeds the converter
            content_html = node.html()
            content_dom = _wrap_fragment_dom(node)

    pruned_percent = 0
    if len(content_html) >= 20000:
        pr = md.prune_content(content_html, dynamic=True)
        content_html = pr.html
        content_dom = None
        if pr.nodes_removed > 0:
            pruned_percent = pr.reduction_percent
    result["pruned_percent"] = pruned_percent

    # >10MB pages must keep the string path so the clean_html size cap
    # raises exactly as before (markdown.ts:233)
    use_dom = content_dom is not None and len(filtered) <= md.MAX_HTML_BYTES
    source = content_dom if use_dom else content_html
    converted = md.html_to_markdown(source, prune=False)
    converted = md.clean_markdown_noise(converted)
    from .pruner import prune_markdown
    converted = prune_markdown(converted)

    result["content"] = converted
    result["method"] = "detected" if detected else "generic"
    # quality is scored against the RAW document (pipeline.ts:1133
    # passes fetchResult.html, not the filtered/selected string)
    result["quality"] = md.calculate_quality(converted, html)
    if not result["language"]:
        result["language"] = detect_language_ngram(converted)
        lang_is_ngram = True

    # auth-wall check on sparse results (pipeline.ts:1196-1218) — reads
    # the raw html, like the reference's ctx.fetchResult.html
    if len(converted) < 800 or result["quality"] < 0.3:
        from .auth_detection import detect_auth_wall

        if detect_auth_wall(html, url)["is_auth_wall"]:
            result["auth_required"] = True

    return _domain_then_finish(result)


def _finish(result: Dict[str, Any], options: ExtractOptions) -> Dict[str, Any]:
    # prompt-injection scan on final content (buildResult,
    # pipeline.ts:1651-1656): content replaced only when detected
    from .prompt_guard import sanitize_for_llm

    guard = sanitize_for_llm(result["content"] or "")
    if guard["injection_detected"]:
        result["content"] = guard["content"]
        result["injection_detected"] = True

    content = result["content"]
    # str.split() drops empty tokens across whitespace runs, so the
    # original's \s+ collapse, strip, and empty-filter are redundant —
    # one compiled pass, identical count
    result["word_count"] = len(_MD_PUNCT_RE.sub(" ", content).split())
    result["token_estimate"] = md.estimate_tokens(content)
    result["link_count"] = len(result["links"])
    result["content_len"] = len(content)
    result["fingerprint"] = _sha256(content)

    if options.chunk and content:
        chunks = chunk_content(content)
        result["chunks"] = [
            {
                "index": c.index,
                "text": c.text,
                "token_count": c.token_count,
                "word_count": c.word_count,
                "section": c.section,
                "section_depth": c.section_depth,
                "start_offset": c.start_offset,
                "end_offset": c.end_offset,
            }
            for c in chunks
        ]
    return result
