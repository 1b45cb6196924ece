"""Plain-Python behavioral spec of the reference scalar derivations.

Re-implemented from the observed semantics of
``/root/reference/video_processor.py:182-251`` (cited per function in
``scalar.py``); used ONLY by property tests as the ground truth the
SQL expressions must reproduce. Not imported by engine code.
"""

from __future__ import annotations

import re
from urllib.parse import urlparse

from .scalar import CODEC_MAP, DEFAULT_BITRATE, LANGUAGE_PRIORITY, STOPWORDS


def is_hls(url: str) -> int:
    return 1 if ".m3u8" in url.lower() else 0


def file_extension(url: str) -> str:
    path = urlparse(url).path
    if "." not in path:
        return ""
    return path.split(".")[-1].split("?")[0].lower()


def codec(url: str) -> str:
    return CODEC_MAP.get(file_extension(url), "MP4A")


def bitrate(url: str) -> int:  # noqa: ARG001
    return DEFAULT_BITRATE


def title_tags(title: str) -> str:
    words = re.findall(r"\b\w+\b", title.lower())
    tags = [w for w in words if w not in STOPWORDS and len(w) > 2]
    return ",".join(tags[:6])


def language(title: str) -> tuple[str, str]:
    lowered = title.lower()
    for lang, indicators in LANGUAGE_PRIORITY:
        if any(i in lowered for i in indicators):
            return lang.capitalize(), lang.upper()[:5]
    return "Tamil", "TAMIL"


def safe_filename(title: str, url: str) -> str:
    safe = re.sub(r"[^\w\s-]", "", title)
    safe = re.sub(r"[-\s]+", "_", safe)
    ext = file_extension(url)
    return f"{safe}.{ext}" if ext else f"{safe}.m4a"


def dual_timestamp(ts) -> tuple[str, str]:
    # ts: tz-aware UTC datetime
    return ts.strftime("%Y-%m-%dT%H:%M:%S"), ts.isoformat().replace("+00:00", "Z")
