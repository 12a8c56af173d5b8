"""Shared extractor helpers (ee/extractors/shared.ts port)."""

from __future__ import annotations

import json
import re

_TAG_RE = re.compile(r"<[^>]+>")


def strip_html(text: str) -> str:
    """shared.ts:14-16 — tag strip + 6 entity decodes + trim."""
    if not text:
        return ""
    from ..jstext import js_trim

    return js_trim(_TAG_RE.sub("", text)
                   .replace("&amp;", "&").replace("&lt;", "<")
                   .replace("&gt;", ">").replace("&quot;", '"')
                   .replace("&#39;", "'").replace("&nbsp;", " "))


def try_parse_json(text: str):
    """shared.ts:5-11 — JSON.parse or null."""
    try:
        return json.loads(text)
    except Exception:
        return None


def encode_uri_component(s: str) -> str:
    """JS encodeURIComponent (unreserved set A-Za-z0-9 -_.!~*'())."""
    from urllib.parse import quote

    return quote(s, safe="-_.!~*'()")


def js_number_locale(s) -> str:
    """JS Number(x).toLocaleString('en-US') for the numeric strings
    these extractors feed it: thousands separators; non-numeric →
    'NaN'.  Intl's default caps fractions at 3 digits with
    half-away-from-zero rounding ((1234.5678) → '1,234.568',
    (0.00005) → '0'), unlike Python's full-precision {:,} (round 9,
    Node-pinned in test_reference_edge_parity)."""
    try:
        f = float(s)
    except (TypeError, ValueError):
        return "NaN"
    if f != f:
        return "NaN"
    if f == int(f):
        return f"{int(f):,}"
    from decimal import ROUND_HALF_UP, Decimal

    # quantize the SHORTEST decimal repr, as Intl does (999.9995 →
    # '1,000' even though the double is 999.99949…); HALF_UP on the
    # absolute value = Intl's halfExpand (half away from zero)
    sign = "-" if f < 0 else ""
    d = Decimal(repr(abs(f))).quantize(Decimal("0.001"),
                                       rounding=ROUND_HALF_UP)
    whole, frac = f"{d:f}".rsplit(".", 1)
    frac = frac.rstrip("0")
    body = f"{int(whole):,}.{frac}" if frac else f"{int(whole):,}"
    # sign survives rounding to zero: (-0.0001) → '-0' like Node
    return sign + body


def js_parse_int_commas(s: str) -> int:
    """JS parseInt(s.replace(',', '')) — note .replace in JS drops only
    the FIRST comma, and parseInt stops at the next non-digit."""
    import re as _re

    t = s.replace(",", "", 1)
    m = _re.match(r"\d+", t)
    return int(m.group(0)) if m else 0
