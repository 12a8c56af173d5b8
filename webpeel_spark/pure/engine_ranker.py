"""Engine quality-ranked fallback chains (engine-ranker.ts port).

The reference ranks its extraction strategies (domain-api, simple
fetch, browser, stealth, cloaked, search-fallback) by quality for a
given URL and builds an ordered fallback chain:

* ``ENGINE_DEFAULTS`` — baseline quality/speed/cost/timeout/feature
  table per engine (engine-ranker.ts:84-133).
* ``DOMAIN_RULES`` — suffix-matched per-domain partial overrides
  (engine-ranker.ts:156-333; "twitter.com" matches "www.twitter.com"
  but not "nottwitter.com").
* ``get_domain_overrides`` — last-match-wins merge of every matching
  rule's overrides (engine-ranker.ts:345-362).
* ``build_fallback_chain`` — base + overrides per engine, option
  filter (render / stealth / no_domain_api), then sort by quality
  desc with speed-desc tiebreak (engine-ranker.ts:415-468).

The numeric tables are transliterated verbatim — they define the
output, so they ARE the spec.  In this engine the chain is not used
to drive live fetches (the input table already holds page bytes), and
no batch operator calls it.

Option semantics mirror the JS truthiness exactly: ``render`` only
filters when it is *explicitly* ``False`` (``undefined`` ≡ ``None``
keeps browser engines), while ``stealth`` / ``no_domain_api`` act on
truthiness.  Parity is pinned by tests/golden/engine_ranker_node.json
(recorded Node output of the reference logic).
"""

from __future__ import annotations

from typing import Dict, List, Optional

from .urlfast import _parse_authority, _parse_base, _SCHEME_RE, _UrlError, \
    _clean_input

__all__ = [
    "ENGINE_DEFAULTS",
    "DOMAIN_RULES",
    "get_domain_overrides",
    "get_engine_defaults",
    "get_available_engines",
    "build_fallback_chain",
    "should_force_browser",
    "requires_residential_proxy",
    "SPA_DOMAINS",
    "SPA_URL_PATTERNS",
    "is_spa_url",
]

# ── baseline engine table (engine-ranker.ts:84-133) ──────────────────────
# dict insertion order == the reference's Object.keys order; the sort
# is stable, so ties preserve this order exactly like V8's sort.

ENGINE_DEFAULTS: Dict[str, dict] = {
    "domain-api": {
        "type": "domain-api", "quality": 95, "speed": 95, "cost": 5,
        "max_timeout_ms": 5000,
        "features": {"javascript": False, "antibot": False,
                     "screenshots": False, "stealth": False},
    },
    "simple": {
        "type": "simple", "quality": 70, "speed": 90, "cost": 10,
        "max_timeout_ms": 8000,
        "features": {"javascript": False, "antibot": False,
                     "screenshots": False, "stealth": False},
    },
    "browser": {
        "type": "browser", "quality": 85, "speed": 40, "cost": 60,
        "max_timeout_ms": 15000,
        "features": {"javascript": True, "antibot": False,
                     "screenshots": True, "stealth": False},
    },
    "stealth": {
        "type": "stealth", "quality": 80, "speed": 30, "cost": 80,
        "max_timeout_ms": 20000,
        "features": {"javascript": True, "antibot": True,
                     "screenshots": True, "stealth": True},
    },
    "cloaked": {
        "type": "cloaked", "quality": 75, "speed": 20, "cost": 90,
        "max_timeout_ms": 25000,
        "features": {"javascript": True, "antibot": True,
                     "screenshots": True, "stealth": True},
    },
    "search-fallback": {
        "type": "search-fallback", "quality": 40, "speed": 50, "cost": 30,
        "max_timeout_ms": 10000,
        "features": {"javascript": False, "antibot": False,
                     "screenshots": False, "stealth": False},
    },
}

# ── suffix-matched domain rules (engine-ranker.ts:156-333) ───────────────

DOMAIN_RULES: List[tuple] = [
    # social media: heavy JS, aggressive anti-bot
    ("twitter.com", {"simple": {"quality": 20, "speed": 95},
                     "stealth": {"quality": 90},
                     "cloaked": {"quality": 85},
                     "browser": {"quality": 80}}),
    ("x.com", {"simple": {"quality": 20, "speed": 95},
               "stealth": {"quality": 90},
               "cloaked": {"quality": 85},
               "browser": {"quality": 80}}),
    ("instagram.com", {"simple": {"quality": 15},
                       "stealth": {"quality": 90},
                       "cloaked": {"quality": 88},
                       "browser": {"quality": 75}}),
    ("tiktok.com", {"simple": {"quality": 15},
                    "stealth": {"quality": 90},
                    "cloaked": {"quality": 88},
                    "browser": {"quality": 70}}),
    ("facebook.com", {"simple": {"quality": 20},
                      "stealth": {"quality": 88},
                      "cloaked": {"quality": 85}}),
    ("linkedin.com", {"simple": {"quality": 25},
                      "stealth": {"quality": 88},
                      "browser": {"quality": 78}}),
    ("reddit.com", {"simple": {"quality": 30},
                    "browser": {"quality": 88},
                    "stealth": {"quality": 85}}),
    ("threads.net", {"simple": {"quality": 15},
                     "stealth": {"quality": 90},
                     "cloaked": {"quality": 85}}),
    # SPA-heavy / JS-rendered sites
    ("vercel.app", {"browser": {"quality": 90},
                    "simple": {"quality": 50}}),
    ("netlify.app", {"browser": {"quality": 90},
                     "simple": {"quality": 50}}),
    ("notion.so", {"browser": {"quality": 92},
                   "simple": {"quality": 20}}),
    ("figma.com", {"browser": {"quality": 90},
                   "simple": {"quality": 15}}),
    # static / well-structured sites
    ("wikipedia.org", {"simple": {"quality": 92},
                       "browser": {"quality": 80, "cost": 70}}),
    ("github.com", {"simple": {"quality": 85},
                    "browser": {"quality": 78, "cost": 65}}),
    ("stackoverflow.com", {"simple": {"quality": 88},
                           "browser": {"quality": 78}}),
    ("docs.python.org", {"simple": {"quality": 90}}),
    ("developer.mozilla.org", {"simple": {"quality": 90}}),
    ("news.ycombinator.com", {"simple": {"quality": 92},
                              "browser": {"quality": 75}}),
    # known-blocked / aggressive anti-bot
    ("zillow.com", {"simple": {"quality": 10},
                    "browser": {"quality": 50},
                    "cloaked": {"quality": 90},
                    "stealth": {"quality": 85}}),
    ("yelp.com", {"simple": {"quality": 15},
                  "cloaked": {"quality": 88},
                  "stealth": {"quality": 82}}),
    ("pinterest.com", {"simple": {"quality": 15},
                       "cloaked": {"quality": 88},
                       "stealth": {"quality": 85}}),
    ("ticketmaster.com", {"simple": {"quality": 10},
                          "cloaked": {"quality": 90},
                          "stealth": {"quality": 82}}),
]


def get_domain_overrides(hostname: str) -> Dict[str, dict]:
    """Merged partial overrides for ``hostname`` (engine-ranker.ts:345).

    Suffix match: pattern "twitter.com" matches "twitter.com" and
    "www.twitter.com", not "nottwitter.com".  When several rules
    match, later rules win field-by-field (spread-merge semantics).
    """
    lower = hostname.lower()
    merged: Dict[str, dict] = {}
    for pattern, overrides in DOMAIN_RULES:
        if lower == pattern or lower.endswith("." + pattern):
            for engine, override in overrides.items():
                merged[engine] = {**merged.get(engine, {}), **override}
    return merged


def _apply_overrides(base: dict, overrides: dict) -> dict:
    """Deep-ish clone + merge (engine-ranker.ts:371): features merge
    key-by-key, ``type`` always wins from the base."""
    out = {**base, **overrides,
           "features": {**base["features"], **overrides.get("features", {})}}
    out["type"] = base["type"]
    return out


# WHATWG forbidden host code points (opaque hosts): any of these in a
# non-special host makes ``new URL`` throw.  Tab/LF/CR are stripped by
# input preprocessing and '/', '?', '#' terminate the authority before
# this check; ':' and '@' are consumed by the port/userinfo splits.
_OPAQUE_FORBIDDEN = frozenset("\x00 <>[]^|\\")


def _whatwg_host_or_none(url: str):
    """``new URL(url).hostname``, or None when Node would throw.

    http(s)/ftp/ws(s) reuse the urlfast WHATWG parser; non-special
    schemes follow the opaque-host rules — NO backslash conversion,
    forbidden host code points are a parse failure, case is PRESERVED,
    C0 controls / DEL / non-ASCII percent-encode (UTF-8).  The
    round-10 SPA fuzz fixture pins exactly these divergences
    (``foo://WWW.ZILLOW.COM`` keeps its case; ``foo://host\\x`` throws
    where the old best-effort parse folded the backslash)."""
    base = _parse_base(url)
    if base is None:
        return None
    if base[0] == "special":
        return base[3]
    s = _clean_input(url)
    m = _SCHEME_RE.match(s)
    rest = s[m.end():]
    if not rest.startswith("//"):
        return ""
    rest = rest[2:]
    end = len(rest)
    for d in "/?#":
        i = rest.find(d)
        if i != -1 and i < end:
            end = i
    auth = rest[:end]
    at = auth.rfind("@")
    hostport = auth[at + 1:] if at != -1 else auth
    if hostport.startswith("["):
        try:
            _userinfo, host, _port = _parse_authority(hostport)
        except _UrlError:
            return None
        return host
    ci = hostport.find(":")
    host_str = hostport if ci == -1 else hostport[:ci]
    port_str = "" if ci == -1 else hostport[ci + 1:]
    if not host_str and (at != -1 or ci != -1):
        # r11 (ADVICE, verified against node v20): an empty opaque host
        # is only parseable BARE ('foo:///x', 'foo://') — with an '@'
        # anywhere in the authority (even empty userinfo, 'foo://@/x')
        # or any ':' after it (even an empty port, 'foo://:/x') Node
        # throws host-missing, so detection must be skipped.
        return None
    if port_str:
        if not (port_str.isascii() and port_str.isdigit()):
            return None
        if int(port_str) > 65535:
            return None
    if any(c in _OPAQUE_FORBIDDEN for c in host_str):
        return None
    out = []
    for c in host_str:
        o = ord(c)
        if o <= 0x1F or o >= 0x7F:
            out.append("".join(f"%{b:02X}" for b in c.encode("utf-8")))
        else:
            out.append(c)
    return "".join(out)


def _whatwg_hostname(url: str) -> str:
    """``new URL(url).hostname`` — '' when Node would throw
    (engine-ranker.ts:422-427 catches and proceeds with no
    overrides, so throw and empty-host coincide for rule lookup)."""
    host = _whatwg_host_or_none(url)
    return host if host is not None else ""


def build_fallback_chain(
    url: str,
    render: Optional[bool] = None,
    stealth: Optional[bool] = None,
    no_domain_api: Optional[bool] = None,
) -> List[dict]:
    """Ordered engine chain for ``url`` (engine-ranker.ts:415-468).

    Returns ``[{"engine": <type>, "config": {...}}, ...]``, highest
    quality first (speed-desc tiebreak, stable for full ties).
    ``render=None`` means "unspecified" — only an explicit ``False``
    removes browser-rendering engines (kept anyway for stealth-capable
    engines when ``stealth`` is truthy)."""
    hostname = _whatwg_hostname(url)
    domain_overrides = get_domain_overrides(hostname) if hostname else {}

    configs = []
    for engine_type, base in ENGINE_DEFAULTS.items():
        override = domain_overrides.get(engine_type)
        config = _apply_overrides(base, override) if override else \
            {**base, "features": {**base["features"]}}
        configs.append({"engine": engine_type, "config": config})

    filtered = []
    for entry in configs:
        engine, config = entry["engine"], entry["config"]
        if no_domain_api and engine == "domain-api":
            continue
        if render is False and config["features"]["javascript"]:
            if not (stealth and config["features"]["stealth"]):
                continue
        filtered.append(entry)

    filtered.sort(key=lambda e: (-e["config"]["quality"],
                                 -e["config"]["speed"]))
    return filtered


# ── strategies.ts domain tables (strategies.ts:42-146) ───────────────────
# The sibling decision tables the live escalation loop consults before
# its first fetch; same suffix-match semantics as DOMAIN_RULES.  The
# loop itself (smartFetch) is N/A — these tables are its portable face.

RESIDENTIAL_PROXY_DOMAINS = (
    "zillow.com", "yelp.com", "pinterest.com", "ticketmaster.com",
    "stubhub.com", "cargurus.com", "realtor.com", "redfin.com",
    "apartments.com", "trulia.com", "homefinder.com",
)

BROWSER_DOMAINS = (
    "reddit.com", "npmjs.com", "x.com", "twitter.com", "instagram.com",
    "facebook.com", "tiktok.com", "pinterest.com", "airbnb.com",
    "medium.com", "substack.com", "notion.so", "figma.com", "canva.com",
    "vercel.app",
)

STEALTH_DOMAINS = (
    "glassdoor.com", "bloomberg.com", "indeed.com", "yelp.com",
    "amazon.com", "zillow.com", "ticketmaster.com", "stubhub.com",
    "walmart.com", "target.com", "bestbuy.com", "homedepot.com",
    "lowes.com", "costco.com", "nike.com", "footlocker.com",
    "realtor.com", "redfin.com", "cloudflare.com", "ebay.com",
    "linkedin.com", "craigslist.org", "etsy.com", "wayfair.com",
    "newegg.com", "zappos.com", "chewy.com", "aliexpress.com",
    "wish.com", "cargurus.com",
)


def _host_matches(hostname: str, domain: str) -> bool:
    return hostname == domain or hostname.endswith("." + domain)


def should_force_browser(url: str) -> Optional[str]:
    """'browser' / 'stealth' / None (strategies.ts:71-146
    shouldForceBrowser).  Hashbang URLs are checked on the RAW string
    before any parsing; domain lists use the same suffix match as
    DOMAIN_RULES.  Returns the mode string (the reference wraps it in
    a DomainRecommendation object)."""
    if "#!" in url:
        return "browser"
    hostname = _whatwg_hostname(url).lower()
    if not hostname:
        return None
    for domain in BROWSER_DOMAINS:
        if _host_matches(hostname, domain):
            return "browser"
    for domain in STEALTH_DOMAINS:
        if _host_matches(hostname, domain):
            return "stealth"
    return None


# ── SPA auto-render tables (pipeline.ts:361-398, ee/spa-detection.ts) ────
# The render decision's URL-keyed half: exact-hostname set + URL-substring
# patterns, checked BEFORE any fetch (the content-based half,
# has_spa_indicators, lives in operators/extract.py and runs after).
# This is the core pipeline's DEFAULT list (pipeline.ts:361-388) — the
# always-available npm-path table; the ee hook (spa-detection.ts:1)
# returns the same set minus the two polymarket entries, so the default
# is the superset.  Unlike DOMAIN_RULES there is NO suffix matching:
# the reference calls SPA_DOMAINS.has(hostname) — exact match only
# ("google.com" does not hit "www.google.com").

SPA_DOMAINS = frozenset({
    "www.google.com", "flights.google.com",
    "www.airbnb.com", "www.booking.com", "www.expedia.com",
    "www.kayak.com", "www.skyscanner.com", "www.tripadvisor.com",
    "www.indeed.com", "www.glassdoor.com",
    "www.zillow.com",
    "polymarket.com", "www.polymarket.com",
    "app.webpeel.dev",
})

# /google\.com\/travel/ etc. contain no metacharacters beyond the
# escaped dot, so RegExp.test(ctx.url) reduces to substring containment
# on the RAW url string (pipeline.ts:383-387, :398).
SPA_URL_PATTERNS = (
    "google.com/travel", "google.com/maps", "google.com/shopping",
)


def is_spa_url(url: str) -> bool:
    """URL-keyed SPA auto-render decision (pipeline.ts:393-401).

    Precedence: exact hostname in ``SPA_DOMAINS``, else any
    ``SPA_URL_PATTERNS`` regex against the RAW url.  Both checks sit
    inside the reference's ``try { new URL(ctx.url) … }`` — an
    unparseable URL skips detection entirely (including the pattern
    test), and for non-special schemes "unparseable" includes opaque-
    host failures (forbidden host code points, bad ports) that the
    None-aware host parse surfaces.
    """
    host = _whatwg_host_or_none(url)
    if host is None:
        return False
    if host in SPA_DOMAINS:
        return True
    return any(p in url for p in SPA_URL_PATTERNS)


def requires_residential_proxy(url: str) -> bool:
    """True when the URL's host suffix-matches a domain the reference
    routes through residential proxies (strategies.ts:60-69)."""
    hostname = _whatwg_hostname(url).lower()
    if not hostname:
        return False
    return any(_host_matches(hostname, d) for d in RESIDENTIAL_PROXY_DOMAINS)


def get_engine_defaults(engine_type: str) -> dict:
    """Copy of the baseline config for one engine (engine-ranker.ts:477)."""
    base = ENGINE_DEFAULTS[engine_type]
    return {**base, "features": {**base["features"]}}


def get_available_engines() -> List[str]:
    """All engine types in definition order (engine-ranker.ts:484)."""
    return list(ENGINE_DEFAULTS)
