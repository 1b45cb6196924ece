"""Phase 2 pipeline-parity tests: links → station records with the
deterministic stub extractor (golden outputs per FIXTURES.md §A),
batch and streaming twins producing identical results.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import Observation

from video_stream_processor_spark.functions import pyref
from video_stream_processor_spark.io import read_links
from video_stream_processor_spark.pipeline.sink import write_json_array
from video_stream_processor_spark.pipeline.station import build_station_records
from video_stream_processor_spark.schemas import STATION_COLUMNS, STATION_SCHEMA
from video_stream_processor_spark.sources.extractor import StubExtractor

RUN_TS = dt.datetime(2026, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)

LINKS_TEXT = """\
# synthetic links fixture (shape of the reference links.txt: comments,
# blanks, duplicates)

https://media.example.com/watch?v=alpha001
https://media.example.com/watch?v=beta0002
https://media.example.com/watch?v=alpha001

# another comment
https://media.example.com/watch?v=gamma003
https://media.example.com/watch?v=delta004
https://media.example.com/watch?v=epsil005
https://media.example.com/watch?v=zeta0006
https://media.example.com/watch?v=eta00007
https://media.example.com/watch?v=theta008
https://media.example.com/watch?v=iota0009
https://media.example.com/watch?v=kappa010
https://media.example.com/watch?v=lambda11
https://media.example.com/watch?v=mu000012
https://media.example.com/watch?v=nu000013
https://media.example.com/watch?v=xi000014
https://media.example.com/watch?v=omicr015
https://media.example.com/watch?v=pi000016
https://media.example.com/watch?v=rho00017
https://media.example.com/watch?v=sigma018
https://media.example.com/watch?v=tau00019
"""

N_RAW = 20  # url lines incl. 1 duplicate
N_DISTINCT = 19


@pytest.fixture(scope="module")
def links_file(tmp_path_factory):
    d = tmp_path_factory.mktemp("links")
    f = d / "links.txt"
    f.write_text(LINKS_TEXT)
    return str(d)


def test_links_source_filters(spark, links_file):
    """S1/P4: comments and blanks dropped, nothing else."""
    urls = [r["url"] for r in read_links(spark, links_file).collect()]
    assert len(urls) == N_RAW  # dedup is NOT the scan's job (streaming-compat)
    assert all(u.startswith("https://") for u in urls)


def test_station_pipeline_batch(spark, links_file, tmp_path):
    links = read_links(spark, links_file)
    obs = Observation("enrich")
    df = build_station_records(
        links, StubExtractor, run_ts=RUN_TS, observation=obs
    )
    # names+types must match STATION_SCHEMA exactly; nullability is
    # tighter in the built plan (literals are non-null) which is fine
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in STATION_SCHEMA.fields
    ]
    rows = {r["url"]: r for r in df.collect()}

    # A2 observe metrics: input == distinct urls; failures counted
    m = obs.get
    assert m["n_input"] == N_DISTINCT
    n_out = len(rows)
    assert n_out == N_DISTINCT - m["n_failed"] - m["n_unresolved"]
    assert n_out > 0

    # Golden parity vs the python spec for every surviving record
    stub = StubExtractor()
    for url, row in rows.items():
        info = stub._one(url)
        assert info is not None and "youtube.com/watch" not in info["stream_url"]
        exp_lang, exp_code = pyref.language(info["title"])
        assert row["name"] == info["title"][:80]
        assert row["url_resolved"] == info["stream_url"]
        assert row["codec"] == pyref.codec(info["stream_url"])
        assert row["bitrate"] == pyref.bitrate(info["stream_url"])
        assert row["hls"] == pyref.is_hls(info["stream_url"])
        assert row["tags"] == pyref.title_tags(info["title"])[:80]
        assert row["language"] == exp_lang
        assert row["countrycode"] == exp_code
        assert row["languagecodes"] == exp_code.lower()[:2]
        assert row["file_name_from_url"] == pyref.safe_filename(
            info["title"], info["stream_url"]
        )[:80]
        assert row["country"] == f"User Defined ({exp_lang} Videos)"
        assert row["lastchangetime"] == "2026-01-02T03:04:05"
        assert row["lastchangetime_iso8601"] == "2026-01-02T03:04:05Z"
        assert row["lastcheckok"] == 1 and row["votes"] == 0
        assert row["geo_lat"] is None and row["has_extended_info"] is False
        # deterministic uuids: stable across runs, distinct per role
        assert len({row["changeuuid"], row["stationuuid"], row["serveruuid"]}) == 3

    # S6 sink: JSON array file, verified non-empty, count matches
    out = tmp_path / "output.json"
    n = write_json_array(df, str(out))
    assert n == n_out
    data = json.loads(out.read_text())
    assert isinstance(data, list) and len(data) == n_out
    assert set(data[0].keys()) == set(STATION_COLUMNS)


def test_write_json_array_row_guard(spark, tmp_path):
    """The single-file driver-side sink must refuse big DataFrames
    loudly instead of collecting them into driver memory."""
    import pytest

    big = spark.range(50)
    with pytest.raises(ValueError, match="capped at"):
        write_json_array(big, str(tmp_path / "big.json"), max_rows=10)
    # under the cap it still writes normally
    n = write_json_array(spark.range(5), str(tmp_path / "ok.json"), max_rows=10)
    assert n == 5


def test_station_pipeline_streaming_twin(spark, links_file, tmp_path):
    """T1/T2/T3: same builder over a streaming file source +
    availableNow trigger must equal the batch result exactly."""
    batch = build_station_records(
        read_links(spark, links_file), StubExtractor, run_ts=RUN_TS
    ).collect()

    stream_links = read_links(spark, links_file, streaming=True)
    sdf = build_station_records(stream_links, StubExtractor, run_ts=RUN_TS)
    q = (
        sdf.writeStream.format("memory")
        .queryName("station_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM station_stream").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_station_build_is_few_jvm_calls(spark, links_file, monkeypatch):
    """The station plan is built from SQL text in one ``selectExpr``, so
    a call costs a bounded number of py4j round trips (~100 here; the
    same projection built from Column objects took ~3,000-4,800, one or
    more per expression node). Counted warm, on the streaming plan with
    its observation, as a refresh cycle builds it."""
    links = read_links(spark, links_file, streaming=True)
    build_station_records(links, StubExtractor, observation="station_rt")  # warm
    calls = []
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    build_station_records(links, StubExtractor, observation="station_rt")
    monkeypatch.setattr(GatewayClient, "send_command", send)
    assert 0 < len(calls) < 300, len(calls)
