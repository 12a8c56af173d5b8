"""engine-ranker.ts port: fallback-chain parity pinned against Node's
actual output of the reference logic (1,478-case fixture — every
DOMAIN_RULES pattern with www./mobile./lookalike hosts × the full
option matrix, URL parse edges, plus a seeded fuzz corpus —
tests/golden/engine_ranker_node.json).
"""

from __future__ import annotations

import json
import os

from webpeel_spark.pure.engine_ranker import (
    DOMAIN_RULES,
    ENGINE_DEFAULTS,
    build_fallback_chain,
    get_available_engines,
    get_domain_overrides,
    get_engine_defaults,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "golden",
                       "engine_ranker_node.json")
with open(FIXTURE) as f:
    _FX = json.load(f)
NODE_CASES = _FX["cases"]

STRATEGY_FIXTURE = os.path.join(os.path.dirname(__file__), "golden",
                                "strategy_domains_node.json")
with open(STRATEGY_FIXTURE) as f:
    STRATEGY_CASES = json.load(f)["cases"]


def _normalize_config(cfg: dict) -> dict:
    """Node fixture config (camelCase maxTimeoutMs) → port shape."""
    out = dict(cfg)
    out["max_timeout_ms"] = out.pop("maxTimeoutMs")
    return out


def _opts_kwargs(opts: dict) -> dict:
    return {"render": opts.get("render"),
            "stealth": opts.get("stealth"),
            "no_domain_api": opts.get("noDomainApi")}


class TestNodeParity:
    def test_full_corpus(self):
        """Every recorded case: engine order AND full per-engine config
        (quality/speed/cost/timeout/features) must match Node."""
        mismatches = []
        for i, case in enumerate(NODE_CASES):
            got = build_fallback_chain(case["url"], **_opts_kwargs(case["opts"]))
            want = [{"engine": e["engine"],
                     "config": _normalize_config(e["config"])}
                    for e in case["chain"]]
            if got != want:
                mismatches.append((i, case["url"], case["opts"],
                                   [e["engine"] for e in got],
                                   [e["engine"] for e in want]))
        assert not mismatches, mismatches[:5]

    def test_strategy_domain_corpus(self):
        """strategies.ts decision tables: shouldForceBrowser +
        requiresResidentialProxy vs 694 recorded Node outputs."""
        from webpeel_spark.pure.engine_ranker import (
            requires_residential_proxy, should_force_browser,
        )

        mismatches = []
        for case in STRATEGY_CASES:
            want_force = case["force"]["mode"] if case["force"] else None
            got_force = should_force_browser(case["url"])
            got_res = requires_residential_proxy(case["url"])
            if (got_force, got_res) != (want_force, case["residential"]):
                mismatches.append((case["url"], got_force, want_force,
                                   got_res, case["residential"]))
        assert not mismatches, mismatches[:5]
        assert len(STRATEGY_CASES) > 500

    def test_spa_detection_corpus(self):
        """URL-keyed SPA auto-render table (pipeline.ts:361-401 /
        ee/spa-detection.ts) vs recorded Node outputs: exact-hostname
        set + raw-url pattern half, parse-failure skip, IDN/IPv6/
        trailing-dot/authority-less edges."""
        from webpeel_spark.pure.engine_ranker import (
            SPA_DOMAINS, is_spa_url,
        )

        fixture = os.path.join(os.path.dirname(__file__), "golden",
                               "spa_detection_node.json")
        with open(fixture) as f:
            cases = json.load(f)["cases"]
        mismatches = [(c["url"], is_spa_url(c["url"]), c["spa"])
                      for c in cases if is_spa_url(c["url"]) != c["spa"]]
        assert not mismatches, mismatches[:5]
        assert len(cases) > 100
        # every set entry is exercised as a hit in the corpus
        urls = " ".join(c["url"] for c in cases)
        for d in SPA_DOMAINS:
            assert f"//{d}/" in urls

    def test_corpus_shape(self):
        # the fixture really exercises the surface: every rule pattern
        # appears as an exact host and with a subdomain prefix
        urls = " ".join(c["url"] for c in NODE_CASES)
        for pattern, _ in DOMAIN_RULES:
            assert f"//{pattern}/" in urls or f"//{pattern}:" in urls
            assert f"www.{pattern}" in urls
        assert len(NODE_CASES) > 1000


class TestSemantics:
    def test_suffix_not_substring(self):
        assert get_domain_overrides("nottwitter.com") == {}
        assert get_domain_overrides("twitter.com.evil.example") == {}
        assert get_domain_overrides("mobile.twitter.com") != {}

    def test_case_insensitive_host(self):
        assert (get_domain_overrides("WWW.Twitter.COM")
                == get_domain_overrides("www.twitter.com"))

    def test_last_match_wins_merge(self):
        # no shipped rule pair overlaps, so pin the merge semantics
        # directly: a synthetic host matching two rules merges
        # field-by-field with the later rule winning
        DOMAIN_RULES.append(("twitter.com",
                             {"simple": {"speed": 11}, "browser": {"cost": 7}}))
        try:
            m = get_domain_overrides("www.twitter.com")
        finally:
            DOMAIN_RULES.pop()
        assert m["simple"] == {"quality": 20, "speed": 11}
        assert m["browser"] == {"quality": 80, "cost": 7}

    def test_render_none_vs_false(self):
        # undefined render keeps browser engines; explicit False drops
        # every javascript engine unless stealth is requested
        full = [e["engine"] for e in build_fallback_chain("https://example.com/")]
        assert full == ["domain-api", "browser", "stealth", "cloaked",
                        "simple", "search-fallback"]
        no_render = [e["engine"] for e in
                     build_fallback_chain("https://example.com/", render=False)]
        assert no_render == ["domain-api", "simple", "search-fallback"]
        stealthy = [e["engine"] for e in
                    build_fallback_chain("https://example.com/", render=False,
                                         stealth=True)]
        assert stealthy == ["domain-api", "stealth", "cloaked", "simple",
                            "search-fallback"]

    def test_no_domain_api(self):
        chain = build_fallback_chain("https://example.com/",
                                     no_domain_api=True)
        assert "domain-api" not in [e["engine"] for e in chain]

    def test_invalid_url_defaults(self):
        assert ([e["engine"] for e in build_fallback_chain("not a url")]
                == [e["engine"] for e in build_fallback_chain("https://example.com/")])

    def test_overrides_do_not_mutate_defaults(self):
        before = get_engine_defaults("simple")
        build_fallback_chain("https://twitter.com/u")
        assert get_engine_defaults("simple") == before
        # returned copies are detached too
        c = build_fallback_chain("https://example.com/")[0]
        c["config"]["features"]["javascript"] = True
        assert ENGINE_DEFAULTS["domain-api"]["features"]["javascript"] is False

    def test_available_engines(self):
        assert get_available_engines() == [
            "domain-api", "simple", "browser", "stealth", "cloaked",
            "search-fallback"]

