"""Property tests: scalar SQL expressions vs the Python behavioral
spec (SURVEY §5.2) over a seeded corpus of adversarial titles and URLs.

One Spark job evaluates the whole corpus (per-example round-trips would
be orders slower); rows are compared pairwise afterwards.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

from video_stream_processor_spark.functions import pyref, scalar
from video_stream_processor_spark.session import ensure_runtime_confs

_WORDS = [
    "the", "and", "official", "video", "hd", "tamil", "song", "new",
    "super", "hit", "kids", "rhymes", "chellame", "paattu", "Engl",
    "TAMIL", "Hindi", "malayalam", "normal", "telugu", "tam", "hindi",
    "eng", "kan", "tel", "mal", "a", "ab", "abc", "x1", "123", "no9",
    "été", "straße", "தமிழ்", "पाठ", "中文", "naïve", "it's", "semi-final",
]
_PUNCT = ["!", "?", "|", "-", "_", "  ", " - ", "(", ")", "[]", "#", "&", "💕", ","]
_EXTS = ["m4a", "MP3", "m3u8", "webm", "ogg", "aac", "mp4", "txt", "", "M3U8"]
_HOSTS = ["cdn.example.com", "rr3---sn.googlevideo.com", "a.b.io"]


def _mk_title(rng: random.Random) -> str:
    n = rng.randint(0, 10)
    parts = []
    for _ in range(n):
        parts.append(rng.choice(_WORDS))
        if rng.random() < 0.4:
            parts.append(rng.choice(_PUNCT))
    return " ".join(parts)


def _mk_url(rng: random.Random) -> str:
    host = rng.choice(_HOSTS)
    segs = []
    for _ in range(rng.randint(0, 3)):
        seg = rng.choice(["videoplayback", "watch", "a.b", "files", "x_y-z", "v1.2.3"])
        segs.append(seg)
    ext = rng.choice(_EXTS)
    leaf = rng.choice(["stream", "file_01", "audio.tmp", ""])
    if ext:
        leaf = f"{leaf}.{ext}" if leaf else f"x.{ext}"
    path = "/".join(segs + ([leaf] if leaf else []))
    url = f"https://{host}/{path}"
    if rng.random() < 0.4:
        url += "?expire=123&mime=audio%2Fmp4"
    if rng.random() < 0.2:
        url += "#frag.m3u8" if rng.random() < 0.3 else "#t=30"
    return url


def test_scalar_parity_corpus(spark):
    rng = random.Random(42)
    rows = [(i, _mk_title(rng), _mk_url(rng)) for i in range(400)]
    # pin known reference fixtures into the corpus
    rows += [
        (1000, "Chellame Chellam Tamil Rhymes", "https://cdn/x/video.m3u8?sig=1"),
        (1001, "", "https://host/plain"),
        (1002, "Best - of -  HINDI songs!!", "https://h/a.b/c"),
        (1003, "normal calm video", "https://h/f.WEBM"),
    ]
    df = spark.createDataFrame(rows, ["id", "title", "url"])
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            F.expr(scalar.is_hls("url")).alias("hls"),
            F.expr(scalar.file_extension("url")).alias("ext"),
            F.expr(scalar.codec("url")).alias("codec"),
            F.expr(scalar.bitrate("url")).alias("bitrate"),
            F.expr(scalar.title_tags("title")).alias("tags"),
            F.expr(scalar.language("title")).alias("language"),
            F.expr(scalar.language_code("title")).alias("langcode"),
            F.expr(scalar.safe_filename("title", "url")).alias("fname"),
        ).collect()
    }
    bad = []
    for i, title, url in rows:
        exp_lang, exp_code = pyref.language(title)
        expect = {
            "hls": pyref.is_hls(url),
            "ext": pyref.file_extension(url),
            "codec": pyref.codec(url),
            "bitrate": pyref.bitrate(url),
            "tags": pyref.title_tags(title),
            "language": exp_lang,
            "langcode": exp_code,
            "fname": pyref.safe_filename(title, url),
        }
        actual = {k: got[i][k] for k in expect}
        if actual != expect:
            bad.append((i, title, url, expect, actual))
    assert not bad, f"{len(bad)} mismatches; first: {bad[0]}"


def test_scalar_sql_parses_under_hostile_escape_mode(spark):
    """The derivations are SQL text whose regexes are raw literals, which
    parse as written only with spark.sql.parser.escapedStringLiterals off;
    ensure_runtime_confs resets a session that turned it on."""
    key = "spark.sql.parser.escapedStringLiterals"
    title, url = "Été straße - it's a semi-final!! Tamil HD", "https://h/a.b/c.MP3?x=1"
    spark.conf.set(key, "true")
    try:
        ensure_runtime_confs(spark)
        got = spark.createDataFrame([(title, url)], ["title", "url"]).select(
            F.expr(scalar.title_tags("title")),
            F.expr(scalar.safe_filename("title", "url")),
        ).first()
    finally:
        spark.conf.set(key, "false")
    assert tuple(got) == (pyref.title_tags(title), pyref.safe_filename(title, url))


def test_dual_timestamp_parity(spark):
    stamps = [
        dt.datetime(2026, 8, 13, 4, 5, 6, tzinfo=dt.timezone.utc),
        dt.datetime(2026, 8, 13, 4, 5, 6, 789012, tzinfo=dt.timezone.utc),
        dt.datetime(2000, 1, 1, 0, 0, 0, 1, tzinfo=dt.timezone.utc),
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(stamps)], ["id", "ts"])
    plain, iso = map(F.expr, scalar.dual_timestamp("ts"))
    got = {r["id"]: r for r in df.select("id", plain.alias("p"), iso.alias("i")).collect()}
    for i, s in enumerate(stamps):
        ep, ei = pyref.dual_timestamp(s)
        assert got[i]["p"] == ep, (got[i]["p"], ep)
        assert got[i]["i"] == ei, (got[i]["i"], ei)


def test_deterministic_uuid_shape(spark):
    df = spark.range(3).select(
        F.expr(scalar.deterministic_uuid("CAST(id AS STRING)", "station")).alias("u")
    )
    vals = [r["u"] for r in df.collect()]
    assert len(set(vals)) == 3
    for v in vals:
        parts = v.split("-")
        assert [len(p) for p in parts] == [8, 4, 4, 4, 12]


def test_error_classification(spark):
    cases = [
        ("ERROR: Sign in to confirm you're not a bot", "bot_detected"),
        ("Video unavailable", "unavailable"),
        ("Private video. Sign in", "private"),
        ("This video is not available", "not_available"),
        ("socket timeout", "retryable"),
    ]
    df = spark.createDataFrame(cases, ["err", "expect"])
    out = df.select("expect", F.expr(scalar.classify_extract_error("err")).alias("got")).collect()
    for r in out:
        assert r["got"] == r["expect"], r
