"""The reference pipeline re-expressed as one declarative DataFrame
graph (SURVEY §7 Phase 2).

Reference flow (video_processor.py:356-392): read links → dedup →
per-URL enrichment → validity filters → scalar derivations → 37-field
station record → JSON sink, with success/failure counters.

Spark flow (identical semantics, different execution):

    links ─ dropDuplicates ─ mapInPandas(U1 enrich) ─ observe(A2)
          ─ filter(P2 null-drop) ─ filter(P3 unresolved-url)
          ─ selectExpr(P1 projection of F1-F14 derivations)

The SAME function builds the batch and the streaming plan — every
operator here is streaming-compatible, so the 2-hour-cron semantics
(update-streams.yml:5-6) become ``trigger(availableNow=True)`` over a
file source with zero code change (T1/T2/T3).

Scale notes:
* dedup BEFORE enrichment — the reference's one optimization (set() at
  :330 ahead of the yt-dlp calls) becomes a convention Catalyst can't
  infer past a nondeterministic UDF (SURVEY §4.3).
* ``repartition`` after dedup spreads surviving URLs across executors
  so one slow batch of URLs doesn't serialize enrichment.
* All derivations are Spark SQL expression text *outside* the UDF —
  only the fetch itself crosses the Python boundary — and the 37-field
  projection is one ``selectExpr``: one JVM call to build, where the
  same projection from Column objects took thousands of py4j round
  trips (~0.4 s of driver time per refresh cycle).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import scalar
from ..schemas import VIDEO_INFO_SCHEMA
from ..sources.extractor import Extractor, make_enrich_fn

ENRICHED_SCHEMA = "url string, " + ", ".join(
    f"{f.name} {f.dataType.simpleString()}" for f in VIDEO_INFO_SCHEMA.fields
)


def enrich_links(
    links: DataFrame,
    extractor_factory: Callable[[], Extractor],
    dedup: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """S3/U1: dedup (O5, before the expensive call — :330), spread,
    enrich via Arrow-batched mapInPandas.

    Dedup semantics differ from the reference in streaming mode. On a
    streaming source (``read_links(streaming=True)`` with a
    checkpoint), ``dropDuplicates(["url"])`` keeps every URL it has
    seen in state, and a URL enters that state BEFORE enrichment: a URL
    whose enrichment failed (dropped as ``stream_url IS NULL``) is
    never enriched again, even if it lands in a later links file. The
    reference re-reads ``links.txt`` on every run
    (video_processor.py:325-336), so it retries such a URL each cron
    cycle. A batch run here dedups within the run only and behaves like
    the reference."""
    df = links
    if dedup:
        df = df.dropDuplicates(["url"])
    if partitions:
        df = df.repartition(partitions)
    return df.mapInPandas(make_enrich_fn(extractor_factory), schema=ENRICHED_SCHEMA)


def build_station_records(
    links: DataFrame,
    extractor_factory: Callable[[], Extractor],
    run_ts: dt.datetime | None = None,
    observation=None,
    partitions: int | None = None,
) -> DataFrame:
    """links(url) → 37-field station records (schemas.STATION_SCHEMA).

    ``run_ts``: the frozen 'current time' (SURVEY §4.3 determinism) —
    the reference stamps one wall-clock instant per record (:257).
    ``observation``: optional pyspark Observation (batch) or name
    (streaming) for A2 success/failure counters without a second pass.
    """
    if run_ts is None:
        run_ts = dt.datetime.now(dt.timezone.utc)
    enriched = enrich_links(links, extractor_factory, partitions=partitions)

    failed = "stream_url IS NULL"  # P2: enrichment returned null (:261-264)
    unresolved = "contains(stream_url, 'youtube.com/watch')"  # P3 (:270-273)
    if observation is not None:
        enriched = enriched.observe(
            observation,
            F.expr("count(1) AS n_input"),
            F.expr(f"count(CASE WHEN {failed} THEN 1 END) AS n_failed"),
            F.expr(f"count(CASE WHEN NOT ({failed}) AND {unresolved} THEN 1 END) AS n_unresolved"),
        )
    valid = enriched.filter(f"NOT ({failed})").filter(f"NOT {unresolved}")

    # A naive-datetime literal would be converted OS-locally (PySpark's
    # TimestampType.toInternal uses time.mktime), shifting the frozen
    # instant on non-UTC hosts; a string parsed by the session (pinned
    # UTC in ensure_runtime_confs) is TZ-independent.
    if run_ts.tzinfo is not None:
        run_ts = run_ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
    ts = f"to_timestamp('{run_ts.strftime('%Y-%m-%d %H:%M:%S.%f')}')"
    plain, iso = scalar.dual_timestamp(ts)
    lang = scalar.language("title")
    code = scalar.language_code("title")

    fields = {
        "changeuuid": scalar.deterministic_uuid("url", "change"),
        "stationuuid": scalar.deterministic_uuid("url", "station"),
        "serveruuid": scalar.deterministic_uuid("url", "server"),
        "name": scalar.truncate80("title"),
        "url": "url",
        "url_resolved": "stream_url",
        "homepage": "'https://youtube.com'",
        "favicon": "coalesce(thumbnail, 'https://youtube.com/favicon.ico')",
        "tags": scalar.truncate80(scalar.title_tags("title")),
        "country": f"format_string('User Defined (%s Videos)', {lang})",
        "countrycode": code,
        "state": f"format_string('%s State', {lang})",
        "language": lang,
        "languagecodes": f"substr(lower({code}), 1, 2)",
        "votes": "0",
        "lastchangetime": plain,
        "lastchangetime_iso8601": iso,
        "codec": scalar.codec("stream_url"),
        "bitrate": scalar.bitrate("stream_url"),
        "file_name_from_url": scalar.truncate80(scalar.safe_filename("title", "stream_url")),
        "hls": scalar.is_hls("stream_url"),
        "lastcheckok": "1",
        "lastchecktime": plain,
        "lastchecktime_iso8601": iso,
        "lastcheckoktime": plain,
        "lastcheckoktime_iso8601": iso,
        "lastlocalchecktime": plain,
        "lastlocalchecktime_iso8601": iso,
        "clicktimestamp": plain,
        "clicktimestamp_iso8601": iso,
        "clickcount": "0",
        "clicktrend": "0",
        "ssl_error": "0",
        "geo_lat": "CAST(NULL AS DOUBLE)",
        "geo_long": "CAST(NULL AS DOUBLE)",
        "geo_distance": "CAST(NULL AS DOUBLE)",
        "has_extended_info": "false",
    }
    # one selectExpr: the whole projection crosses to the JVM in one call
    return valid.selectExpr(*(f"{expr} AS {name}" for name, expr in fields.items()))


def station_quality_expr() -> Column:
    """lastcheckok as the reference defines validity (:303): 1 for every
    surviving record — exposed for sink-side verification counts."""
    return F.col("lastcheckok") == 1
