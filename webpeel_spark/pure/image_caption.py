"""Heuristic image alt-text enhancement (image-caption.ts:1-170).

The reference's opt-in ``captionImages`` pipeline stage: <img> tags
with missing/empty alt get a caption derived from the filename slug,
then a meaningful parent path segment, then nearby heading /
figcaption / surrounding text, else "Image".  Non-empty alt is always
preserved.  The LLM-vision half (image-caption.ts:176-300,
``captionImagesWithLLM``) is BYOK network — N/A here, same class as
summarize/llm-extract.

Regex semantics mirror the reference byte-for-byte (including the
mixed-quote character classes and the 300/400-char context windows);
parity pinned against Node's actual output of the reference function
in tests/test_image_caption.py.
"""

from __future__ import annotations

import re
from typing import Optional
from urllib.parse import urlsplit

# image-caption.ts:13-17
GENERIC_FILENAMES = frozenset([
    "image", "img", "photo", "picture", "thumbnail", "thumb",
    "icon", "logo", "banner", "placeholder", "default", "hero",
    "bg", "background", "avatar", "pic", "graphic", "figure", "shot",
])

# image-caption.ts:19-23
NOISE_PATH_SEGMENTS = frozenset([
    "images", "img", "imgs", "photos", "assets", "static", "media",
    "public", "uploads", "files", "resources", "content", "cdn",
    "dist", "build", "src", "www", "web", "site",
])

_IMG_RE = re.compile(r"<img(\s[^>]*)>", re.I)
_SRC_RE = re.compile(r"\bsrc=[\"']([^\"']*)[\"']", re.I)
_ALT_RE = re.compile(r"\balt=[\"']([^\"']*)[\"']", re.I)
_HEADING_RE = re.compile(r"<h[1-6][^>]*>([^<]{3,80})</h[1-6]>", re.I)
_FIGCAPTION_RE = re.compile(r"<figcaption[^>]*>([^<]{3,120})</figcaption>",
                            re.I)
_TAG_RE = re.compile(r"<[^>]+>")
_EXT_RE = re.compile(r"\.[^.]+$")


def slug_to_title(slug: str) -> str:
    """image-caption.ts:31-40 — slug/camelCase/underscored → Title
    Case ('team-photo-2024' → 'Team Photo 2024')."""
    s = re.sub(r"[-_]+", " ", slug)
    s = re.sub(r"([a-z])([A-Z])", r"\1 \2", s)
    s = re.sub(r"([A-Z]{2,})([A-Z][a-z])", r"\1 \2", s)
    s = re.sub(r"\s+", " ", s).strip()
    return re.sub(r"\b\w", lambda m: m.group(0).upper(), s,
                  flags=re.ASCII)


def _whatwg_pathname(path: str) -> str:
    """What ``new URL(src).pathname`` returns for a special scheme:
    backslashes are path separators, dot segments resolve, and bytes
    outside the path-safe set percent-encode UTF-8 uppercase ('%' is
    kept as-is — WHATWG does not double-encode).  Node-fuzz-verified
    (café → Caf%C3%A9, space → %20)."""
    from .urlfast import _remove_dot_segments

    path = _remove_dot_segments(path.replace("\\", "/"))

    def enc(c: str) -> str:
        o = ord(c)
        if o <= 0x1F or o >= 0x7F or c in ' "#<>?`{}':
            return "".join(f"%{b:02X}" for b in c.encode("utf-8"))
        return c

    return "".join(enc(c) for c in path)


def caption_from_url(src: str) -> Optional[str]:
    """image-caption.ts:46-77 — filename first, else the nearest
    meaningful parent path segment ('… image')."""
    try:
        path = (_whatwg_pathname(urlsplit(src).path)
                if src.startswith("http") else src)
        parts = [p for p in path.split("/") if p]
        filename = parts[-1] if parts else ""
        name = _EXT_RE.sub("", filename)
        if len(name) > 2 and name.lower() not in GENERIC_FILENAMES:
            title = slug_to_title(name)
            if len(title) > 2:
                return title
        for seg in reversed(parts[:-1]):
            if seg and len(seg) > 2 \
                    and seg.lower() not in NOISE_PATH_SEGMENTS:
                return f"{slug_to_title(seg)} image"
    except ValueError:
        pass
    return None


def extract_nearby_text(html: str, img_start: int) -> str:
    """image-caption.ts:84-110 — nearest heading before the tag, else
    a figcaption after it, else the richer stripped-text side of the
    300-before/400-after window."""
    before = html[max(0, img_start - 300):img_start]
    after = html[img_start:min(len(html), img_start + 400)]

    headings = _HEADING_RE.findall(before)
    if headings:
        text = _TAG_RE.sub("", headings[-1]).strip()
        if len(text) > 3:
            return text

    fig = _FIGCAPTION_RE.search(after)
    if fig:
        text = (fig.group(1) or "").strip()
        if len(text) > 3:
            return text

    def strip_tags(s: str) -> str:
        return re.sub(r"\s+", " ", _TAG_RE.sub(" ", s)).strip()

    before_text = strip_tags(before)
    after_text = strip_tags(after)
    return (after_text[:80] if len(after_text) > len(before_text)
            else before_text[-80:])


def enhance_image_alt_text(html: str) -> str:
    """image-caption.ts:131-170 — add/replace alt text on <img> tags
    whose alt is absent or empty; meaningful alt preserved."""
    def repl(match: "re.Match[str]") -> str:
        attrs = match.group(1)
        src_m = _SRC_RE.search(attrs)
        if not src_m:
            return match.group(0)
        alt_m = _ALT_RE.search(attrs)
        alt_value = alt_m.group(1) if alt_m else None
        if alt_value is not None and alt_value.strip() != "":
            return match.group(0)

        caption = caption_from_url(src_m.group(1) or "")
        if not caption:
            nearby = extract_nearby_text(html, match.start()).strip()
            caption = (f"Image: {nearby[:60]}" if len(nearby) > 3
                       else "Image")
        escaped = caption.replace('"', "&quot;")
        if alt_m:
            # lambda repl: literal insertion (captions can contain
            # backslashes/$ that a pattern-string repl would expand)
            new_attrs = _ALT_RE.sub(lambda _: f'alt="{escaped}"',
                                    attrs, count=1)
            return f"<img{new_attrs}>"
        return f'<img alt="{escaped}"{attrs}>'

    return _IMG_RE.sub(repl, html)
