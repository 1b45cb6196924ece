"""Reference-parity scalar derivations as Spark SQL expression text.

Each function re-expresses one scalar derivation of the reference engine
(`/root/reference/video_processor.py`, cited per function) as a pure
Spark SQL expression — JVM-side, whole-stage-codegen'd, no Python UDFs.
Arguments are SQL expression text too (a column name is one), so the
derivations compose by string and a caller builds a whole projection
with one ``selectExpr`` — one JVM call, where the same projection built
from ``Column`` objects costs thousands of py4j round trips (one or
more per node of every expression tree). Wrap a result in ``F.expr``
to use it as a ``Column``.

Behavioral quirks of the reference are preserved deliberately (SURVEY
§7 watch list), e.g. the extension extractor keeps slashes when the
last dot is in a directory name, and the language matcher hits
substrings like ``'tam'`` inside unrelated words.

``pyref.py`` holds the plain-Python behavioral spec these are
property-tested against.
"""

from __future__ import annotations

# Stopword set for tag extraction — video_processor.py:223.
STOPWORDS: tuple[str, ...] = (
    "the", "and", "or", "but", "in", "on", "at", "to", "for", "of",
    "with", "by", "official", "video", "audio", "hd", "tamil", "song",
)

# Language indicator sets in priority order — video_processor.py:230-241.
# The reference iterates a dict (insertion order); `any()` over each set
# makes within-language order irrelevant, so this tuple IS deterministic
# reference behavior.
LANGUAGE_PRIORITY: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("tamil", ("tamil", "tamizh", "tam")),
    ("hindi", ("hindi", "hind")),
    ("english", ("english", "eng")),
    ("telugu", ("telugu", "tel")),
    ("malayalam", ("malayalam", "mal")),
    ("kannada", ("kannada", "kan")),
)

# ext → codec map — video_processor.py:197-205; default 'MP4A' (:217).
CODEC_MAP: dict[str, str] = {
    "m4a": "MP4A",
    "mp4": "MP4A",
    "mp3": "MP3",
    "aac": "AAC",
    "webm": "OPUS",
    "ogg": "OGG",
    "m3u8": "HLS",
}
# Every bitrate_map entry and its default are 128 (video_processor.py:207-217).
DEFAULT_BITRATE = 128


def _lit(s: str) -> str:
    """``s`` as a raw SQL string literal: backslashes stay literal, so
    regexes read as written. Raw literals have no escapes, so ``s`` may
    hold a single or a double quote, not both. They parse so only with
    ``spark.sql.parser.escapedStringLiterals`` off, which
    ``session.ensure_runtime_confs`` pins."""
    return f"r'{s}'" if "'" not in s else f'r"{s}"'


def is_hls(url: str) -> str:
    """P5: 1 if '.m3u8' in url.lower() else 0 — video_processor.py:182-184,:275."""
    return f"CASE WHEN contains(lower({url}), '.m3u8') THEN 1 ELSE 0 END"


def url_path(url: str) -> str:
    """urlparse(url).path for absolute URLs — the host-relative path with
    query and fragment stripped. (java parse_url returns NULL for
    non-absolute inputs where Python returns the raw string — engine
    inputs are absolute URLs; documented divergence.)"""
    return f"coalesce(parse_url({url}, 'PATH'), '')"


def file_extension(url: str) -> str:
    """F3: extension = path.split('.')[-1].split('?')[0].lower(), '' when
    the path has no dot — video_processor.py:186-192. Quirk preserved:
    a dot in a directory ('/a.b/c') yields 'b/c'. ``substring_index``
    cuts at a literal delimiter, so no regex is compiled per row."""
    path = url_path(url)
    ext = f"lower(substring_index(substring_index({path}, '.', -1), '?', 1))"
    return f"CASE WHEN contains({path}, '.') THEN {ext} ELSE '' END"


def codec(url: str) -> str:
    """F5: literal-map codec lookup with 'MP4A' default — video_processor.py:194-217."""
    items = ", ".join(f"{_lit(k)}, {_lit(v)}" for k, v in CODEC_MAP.items())
    return f"coalesce(element_at(map({items}), {file_extension(url)}), 'MP4A')"


def bitrate(url: str) -> str:  # noqa: ARG001 - parity signature
    """F5: bitrate lookup — every entry and the default are 128
    (video_processor.py:207-217), so this constant-folds."""
    return str(DEFAULT_BITRATE)


def title_tags(title: str) -> str:
    """F6-F8: tokenize lowered title on word chars, drop stopwords and
    len≤2 tokens, keep first 6, comma-join — video_processor.py:219-224.
    Python's \\w is [\\p{L}\\p{N}_] (no combining marks, unlike Java's
    (?U)\\w) — spelled out so Java matches Python tokenization."""
    word = _lit(r"[\p{L}\p{N}_]+")
    words = f"regexp_extract_all(lower({title}), {word}, 0)"
    stop = ", ".join(_lit(w) for w in STOPWORDS)
    kept = f"filter({words}, w -> length(w) > 2 AND NOT w IN ({stop}))"
    return f"array_join(slice({kept}, 1, 6), ',')"


def language(title: str) -> str:
    """F9: first language whose indicator substring-matches the lowered
    title wins; default Tamil — video_processor.py:226-244. Substring
    quirks preserved ('tam' in 'normal' → no; 'mal' in 'normal' → yes,
    but only if no earlier language matched first)."""
    t = f"lower({title})"
    arms = " ".join(
        "WHEN "
        + " OR ".join(f"contains({t}, {_lit(i)})" for i in indicators)
        + f" THEN {_lit(lang.capitalize())}"
        for lang, indicators in LANGUAGE_PRIORITY
    )
    return f"CASE {arms} ELSE 'Tamil' END"  # default — video_processor.py:243-244


def language_code(title: str) -> str:
    """F9/F12: language.upper()[:5] — video_processor.py:241."""
    return f"upper(substr({language(title)}, 1, 5))"


def safe_filename(title: str, url: str) -> str:
    """F10: strip non [word/space/-] chars, collapse [-\\s]+ to '_',
    append url extension or '.m4a' — video_processor.py:246-251."""
    unsafe, runs = _lit(r"(?U)[^\p{L}\p{N}_\s-]"), _lit(r"(?U)[-\s]+")
    safe = f"regexp_replace({title}, {unsafe}, '')"
    safe = f"regexp_replace({safe}, {runs}, '_')"
    ext = file_extension(url)
    return (
        f"CASE WHEN {ext} = '' THEN concat({safe}, '.m4a') "
        f"ELSE concat({safe}, '.', {ext}) END"
    )


def truncate80(col: str) -> str:
    """F11: the [:80] slice applied to name/tags/filename — video_processor.py:285,290,301."""
    return f"substring({col}, 1, 80)"


def dual_timestamp(ts: str) -> tuple[str, str]:
    """F2: the reference renders one UTC instant two ways
    (video_processor.py:32-37): strftime('%Y-%m-%dT%H:%M:%S') and
    isoformat()+'Z' (microseconds omitted when zero, as Python does).
    Takes a *parameter* timestamp expression — never current_timestamp()
    — so oracle-checked plans stay deterministic (SURVEY §4.3)."""
    fmt = _lit("yyyy-MM-dd'T'HH:mm:ss")
    base = f"date_format({ts}, {fmt})"
    frac = f"date_format({ts}, 'SSSSSS')"
    iso = (
        f"CASE WHEN {frac} = '000000' THEN concat({base}, 'Z') "
        f"ELSE concat({base}, '.', {frac}, 'Z') END"
    )
    return base, iso


def deterministic_uuid(key: str, role: str) -> str:
    """F1 deterministic mode: uuid-shaped md5 of (key, role) replacing
    uuid4 (video_processor.py:24-30) when plans must replay identically
    (SURVEY §4.3). Same derivation is SQL-expressible for the oracle."""
    h = f"md5(concat_ws({_lit(chr(0x1F))}, {key}, {_lit(role)}))"
    spans = ((1, 8), (9, 4), (13, 4), (17, 4), (21, 12))
    parts = ", ".join(f"substring({h}, {pos}, {n})" for pos, n in spans)
    return f"concat_ws('-', {parts})"


def classify_extract_error(err: str) -> str:
    """F14: substring-match error taxonomy — video_processor.py:116-128.
    Categories drive the retry/fallback decision: bot_detected → fallback
    chain (S5), the three *unavailable* kinds → drop, else → retry (S4)."""
    arms = " ".join(
        f"WHEN contains({err}, {_lit(needle)}) THEN {_lit(kind)}"
        for needle, kind in (
            ("Sign in to confirm you're not a bot", "bot_detected"),
            ("Video unavailable", "unavailable"),
            ("Private video", "private"),
            ("This video is not available", "not_available"),
        )
    )
    return f"CASE {arms} ELSE 'retryable' END"
