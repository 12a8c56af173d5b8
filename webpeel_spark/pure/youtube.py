"""YouTube page/caption parsing cores (youtube.ts pure subset).

The reference's transcript feature is fetch-driven (innertube API,
proxy slots — N/A), but over half of youtube.ts is pure parsing that
operates on bytes a Common-Crawl-style corpus already holds: watch-
page HTML (``ytInitialPlayerResponse`` embedded JSON → video
metadata, caption-track lists) and timedtext caption payloads (XML
``<text start dur>`` and JSON3 event streams → transcript segments).
Ported here so corpus rows for youtube.com parse into structured
video/transcript tables (``operators/transcripts.py`` formats them);
the suite's pure cases are ported in tests/test_youtube_ref.py.

Only the network half (getYouTubeTranscript, fetchCaptionXml, proxy
slotting, youtube.ts:339-1099) stays N/A.
"""

from __future__ import annotations

import json
import math
import re
from typing import Any, Dict, List, Optional

from .url_validator import js_search_params, whatwg_url

_VIDEO_ID_RE = re.compile(r"^[A-Za-z0-9_-]{11}$")


def is_valid_video_id(vid: str) -> bool:
    """youtube.ts:167-169."""
    return bool(vid) and bool(_VIDEO_ID_RE.fullmatch(vid))


def parse_youtube_url(url: str) -> Optional[str]:
    """youtube.ts:120-165 — video id from any common URL form, None
    when not a recognizable YouTube URL.  Uses the shared WHATWG URL
    emulation so ``new URL``'s quirks carry over: no-slash special
    forms (https:youtube.com/watch), backslash separators, embedded
    tab/newline stripping, hostname lowercasing."""
    if not url or not isinstance(url, str):
        return None
    parts = whatwg_url(url.strip())
    if not parts or not parts["hostname"]:
        return None
    host = parts["hostname"].lower()
    host = re.sub(r"^m\.", "", re.sub(r"^www\.", "", host))
    pathname = parts["pathname"]
    if host == "youtu.be":
        vid = pathname[1:].split("/")[0]
        return vid if is_valid_video_id(vid) else None
    if host == "youtube.com":
        if pathname in ("/watch", "/watch/"):
            vid = js_search_params(parts["query"]).get("v")
            return vid if vid and is_valid_video_id(vid) else None
        for prefix in ("/embed/", "/shorts/", "/v/"):
            if pathname.startswith(prefix):
                segs = pathname.split("/")
                vid = segs[2] if len(segs) > 2 else ""
                return vid if vid and is_valid_video_id(vid) else None
    return None


def extract_json_object(s: str, start: int) -> Optional[str]:
    """youtube.ts:1183-1221 — balanced-brace JSON slice with string/
    escape awareness."""
    depth = 0
    in_string = False
    escape = False
    for i in range(start, len(s)):
        ch = s[i]
        if escape:
            escape = False
            continue
        if ch == "\\" and in_string:
            escape = True
            continue
        if ch == '"':
            in_string = not in_string
            continue
        if in_string:
            continue
        if ch in "{[":
            depth += 1
        elif ch in "}]":
            depth -= 1
            if depth == 0:
                return s[start:i + 1]
    return None


def extract_player_response(html: str) -> Optional[Dict[str, Any]]:
    """youtube.ts:1129-1181 — the embedded ytInitialPlayerResponse
    JSON (pattern match, balanced-brace fallback, captionTracks
    last-resort)."""
    patterns = [
        r"var ytInitialPlayerResponse\s*=\s*(\{.+?\});\s*(?:var|</script>)",
        r"ytInitialPlayerResponse\s*=\s*(\{.+?\})(?:;|\s*</script>)",
    ]
    for pat in patterns:
        m = re.search(pat, html, re.S)
        if m:
            try:
                return json.loads(m.group(1))
            except ValueError:
                start = html.find("ytInitialPlayerResponse")
                if start == -1:
                    continue
                brace = html.find("{", start)
                if brace == -1:
                    continue
                json_str = extract_json_object(html, brace)
                if json_str:
                    try:
                        return json.loads(json_str)
                    except ValueError:
                        pass
    caption_idx = html.find('"captionTracks"')
    if caption_idx != -1:
        brace = html.rfind("{", 0, caption_idx + 1)
        if brace != -1:
            json_str = extract_json_object(html, brace)
            if json_str:
                try:
                    return json.loads(json_str)
                except ValueError:
                    pass
    return None


def decode_html_entities(text: str) -> str:
    """youtube.ts:1346-1364 — strip literal tags, then decode the
    entity set YouTube captions use (exact list, exact order)."""
    text = re.sub(r"<[^>]+>", "", text)
    text = (text.replace("&lt;", "<").replace("&gt;", ">")
            .replace("&amp;", "&").replace("&quot;", '"')
            .replace("&#39;", "'").replace("&apos;", "'")
            .replace("&#x27;", "'").replace("&#x2F;", "/"))
    text = re.sub(r"&#(\d+);", lambda m: chr(int(m.group(1), 10)), text)
    text = re.sub(r"&#x([0-9A-Fa-f]+);",
                  lambda m: chr(int(m.group(1), 16)), text)
    return text.strip()


def format_duration(seconds: float) -> str:
    """youtube.ts:1367-1379 — M:SS or H:MM:SS, '0:00' for falsy/NaN."""
    if not seconds or (isinstance(seconds, float) and math.isnan(seconds)):
        return "0:00"
    h = int(seconds // 3600)
    m = int((seconds % 3600) // 60)
    s = int(seconds % 60)
    if h > 0:
        return f"{h}:{m:02d}:{s:02d}"
    return f"{m}:{s:02d}"


def extract_meta_tag(html: str, prop: str) -> Optional[str]:
    """youtube.ts:1382-1391."""
    escaped = prop.replace(":", r"\:")
    m = re.search(
        r"<meta[^>]+(?:property|name)=[\"']%s[\"'][^>]+content=[\"']([^\"']+)[\"']"
        % escaped, html, re.I)
    if not m:
        m = re.search(
            r"<meta[^>]+content=[\"']([^\"']+)[\"'][^>]+(?:property|name)=[\"']%s[\"']"
            % escaped, html, re.I)
    return decode_html_entities(m.group(1)) if m else None


def extract_video_info(html: str,
                       player_response: Optional[Dict[str, Any]] = None
                       ) -> Dict[str, str]:
    """youtube.ts:179-219 — metadata with videoDetails → microformat →
    og-meta fallback chains.  ``player_response`` lets a caller that
    already parsed the embedded JSON (the batch operator also needs
    the caption tracks from it) skip the second full-page scan."""
    pr = (player_response if player_response is not None
          else extract_player_response(html)) or {}
    vd = pr.get("videoDetails") or {}
    mf = (pr.get("microformat") or {}).get("playerMicroformatRenderer") or {}

    def _first(*vals):
        for v in vals:
            if v is not None:
                return v
        return None

    video_id = vd.get("videoId") or ""
    title = _first(vd.get("title"),
                   (mf.get("title") or {}).get("simpleText"),
                   extract_meta_tag(html, "og:title")) or ""
    channel = _first(vd.get("author"), mf.get("ownerChannelName")) or ""
    # parseInt semantics: numeric PREFIX ('754.5' → 754), NaN → 0
    from .url_validator import _js_parse_int

    length_seconds = _js_parse_int(
        str(_first(vd.get("lengthSeconds"), mf.get("lengthSeconds"),
                   "0")), 10) or 0
    view_count = _first(vd.get("viewCount"), mf.get("viewCount")) or ""
    publish_date = _first(mf.get("publishDate"), mf.get("uploadDate")) or ""
    description = _first(vd.get("shortDescription"),
                         (mf.get("description") or {}).get("simpleText"),
                         extract_meta_tag(html, "og:description")) or ""

    def _last_thumb(node):
        thumbs = ((node.get("thumbnail") or {}).get("thumbnails") or [])
        return thumbs[-1].get("url") if thumbs else None

    thumbnail = _first(
        _last_thumb(vd), _last_thumb(mf),
        f"https://img.youtube.com/vi/{video_id}/maxresdefault.jpg")
    like_count = vd.get("likeCount") or ""
    return {
        "videoId": video_id, "title": title, "channel": channel,
        "description": description,
        "duration": format_duration(length_seconds),
        "publishDate": publish_date, "viewCount": view_count,
        "likeCount": like_count, "thumbnail": thumbnail,
    }


def _extract_attr(attrs: str, name: str) -> Optional[str]:
    """youtube.ts:1333-1337."""
    m = re.search(r'%s="([^"]*)"' % name, attrs, re.I)
    return m.group(1) if m else None


def parse_caption_xml(xml: str) -> List[Dict[str, Any]]:
    """youtube.ts:1307-1331 — timedtext XML → [{text, start,
    duration}] with entity decoding."""
    segments: List[Dict[str, Any]] = []
    for m in re.finditer(r"<text\s+([^>]*)>([\s\S]*?)</text>", xml):
        attrs, raw = m.group(1), m.group(2)
        start = float(_extract_attr(attrs, "start") or "0")
        duration = float(_extract_attr(attrs, "dur") or "0")
        text = decode_html_entities(raw.strip())
        if text:
            segments.append({"text": text, "start": start,
                             "duration": duration})
    return segments


def parse_json3_events(data: Dict[str, Any]) -> List[Dict[str, Any]]:
    """youtube.ts:1100-1113 — JSON3 timedtext events → segments."""
    out: List[Dict[str, Any]] = []
    for e in data.get("events") or []:
        segs = e.get("segs")
        if not segs or not any(s.get("utf8") or s.get("u") for s in segs):
            continue
        text = decode_html_entities(
            "".join((s.get("utf8") or s.get("u") or "") for s in segs)
            .replace("\n", " ").strip())
        if text:
            out.append({"text": text,
                        "start": (e.get("tStartMs") or 0) / 1000,
                        "duration": (e.get("dDurationMs") or 0) / 1000})
    return out


def extract_caption_tracks(pr: Dict[str, Any]) -> List[Dict[str, Any]]:
    """youtube.ts:1223-1246."""
    try:
        tracks = ((pr.get("captions") or {})
                  .get("playerCaptionsTracklistRenderer") or {}) \
            .get("captionTracks")
        if not isinstance(tracks, list):
            return []
        out = []
        for t in tracks:
            name_node = t.get("name") or {}
            name = (name_node.get("simpleText")
                    or ((name_node.get("runs") or [{}])[0]).get("text")
                    or t.get("languageCode") or "")
            out.append({
                "baseUrl": t.get("baseUrl") or "",
                "languageCode": (t.get("languageCode")
                                 or "unknown").lower(),
                "name": name,
                "isAutoGenerated": bool(
                    t.get("kind") == "asr"
                    or str(t.get("vssId") or "").startswith("a.")
                    or "auto" in str(name_node.get("simpleText")
                                     or "").lower()),
            })
        return [t for t in out if t["baseUrl"]]
    except Exception:
        return []


def select_best_track(tracks: List[Dict[str, Any]],
                      preferred_lang: str) -> Dict[str, Any]:
    """youtube.ts:1248-1268 — manual-preferred > auto-preferred > any
    manual > first."""
    lang = preferred_lang.lower().split("-")[0]
    for t in tracks:
        if not t["isAutoGenerated"] and t["languageCode"].startswith(lang):
            return t
    for t in tracks:
        if t["isAutoGenerated"] and t["languageCode"].startswith(lang):
            return t
    for t in tracks:
        if not t["isAutoGenerated"]:
            return t
    return tracks[0]


def parse_chapters_from_description(
        description: str) -> List[Dict[str, str]]:
    """youtube.ts:229-245 — timestamped lines, ≥2 required."""
    if not description:
        return []
    chapters = []
    for m in re.finditer(r"^(\d+:\d{2}(?::\d{2})?)\s+(.+)$", description,
                         re.M):
        title = m.group(2).strip()
        if title:
            chapters.append({"time": m.group(1).strip(), "title": title})
    return chapters if len(chapters) >= 2 else []
