"""io._normalize_events across every ts storage encoding it claims to
handle (VERDICT r2 item 8 — the branch that broke round 2 was the one
no test exercised).

The events fixture has shipped in two encodings over the rounds:
parquet TIMESTAMP(NANOS) (read as bigint under nanosAsLong) and
TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ). A
UTC-adjusted MICROS file (plain TimestampType) is the third plausible
drift. All three must normalize to the same (ts: timestamp, ts_ns:
bigint) shape with identical values.

Also here: get_spark's driver-heap and shuffle-width defaults, which
must fit the machine.
"""

from __future__ import annotations

import datetime
import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from video_stream_processor_spark import session
from video_stream_processor_spark.io import _normalize_events
from video_stream_processor_spark.session import default_driver_memory

# Naive-UTC wall clocks; epoch micros are tz-independent for these.
_WALL = [
    datetime.datetime(2024, 1, 1, 10, 0, 0, 123456),
    datetime.datetime(2024, 3, 15, 23, 59, 59, 999999),
    datetime.datetime(2025, 7, 4, 0, 0, 0, 0),
]
_EPOCH = datetime.datetime(1970, 1, 1)
_EXPECT_NS = [int((w - _EPOCH).total_seconds() * 1_000_000) * 1000 for w in _WALL]


def _write(tmp_path, ts_type, name):
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(_WALL, pa.timestamp("us")).cast(ts_type),
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    path = str(tmp_path / name)
    pq.write_table(table, path)
    return path


@pytest.mark.parametrize(
    "ts_type,expect_raw_dtype",
    [
        (pa.timestamp("ns"), "bigint"),  # TIMESTAMP(NANOS) + nanosAsLong
        (pa.timestamp("us"), "timestamp_ntz"),  # current driver fixture
        (pa.timestamp("us", tz="UTC"), "timestamp"),  # UTC-adjusted MICROS
    ],
    ids=["nanos-as-long", "micros-ntz", "micros-utc"],
)
def test_normalize_events_encodings(spark, tmp_path, ts_type, expect_raw_dtype):
    path = _write(tmp_path, ts_type, "ev.parquet")
    raw = spark.read.parquet(path)
    assert dict(raw.dtypes)["ts"] == expect_raw_dtype
    norm = _normalize_events(raw)
    assert dict(norm.dtypes)["ts"] == "timestamp"
    assert dict(norm.dtypes)["ts_ns"] == "bigint"
    rows = sorted(norm.select("event_id", "ts", "ts_ns").collect())
    assert [r["ts_ns"] for r in rows] == _EXPECT_NS
    # ts renders as the same naive-UTC wall clock in every encoding
    # (session tz pinned UTC in _RUNTIME_CONFS)
    assert [r["ts"].replace(tzinfo=None) for r in rows] == _WALL


@pytest.mark.parametrize(
    "ts_type",
    [pa.timestamp("ns"), pa.timestamp("us"), pa.timestamp("us", tz="UTC")],
    ids=["nanos-as-long", "micros-ntz", "micros-utc"],
)
def test_events_stream_reads_every_encoding(spark, tmp_path, ts_type):
    """Streaming reads must declare a schema, so the footer decides
    which raw schema to declare (ADVICE r3: a hardcoded TIMESTAMP_NTZ
    declaration broke older TIMESTAMP(NANOS) fixtures on the stream
    path even though the batch path handled them)."""
    from video_stream_processor_spark.io import load_events_stream

    _write(tmp_path, ts_type, "events.parquet")
    sdf = load_events_stream(spark, str(tmp_path))
    assert dict(sdf.dtypes)["ts"] == "timestamp"
    assert dict(sdf.dtypes)["ts_ns"] == "bigint"
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_enc_stream")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
    finally:
        q.stop()
    rows = sorted(
        spark.sql("select event_id, ts, ts_ns from t_enc_stream").collect()
    )
    assert [r["ts_ns"] for r in rows] == _EXPECT_NS
    assert [r["ts"].replace(tzinfo=None) for r in rows] == _WALL


def test_default_driver_memory_fits_the_machine(monkeypatch):
    """get_spark's heap default is a quarter of physical RAM, capped at
    32g, so it never exceeds the machine; VSP_DRIVER_MEMORY wins."""
    monkeypatch.delenv("VSP_DRIVER_MEMORY", raising=False)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem = default_driver_memory()
    assert mem.endswith("m") and 1 <= int(mem[:-1]) <= ram_mb // 4

    def box(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        return default_driver_memory()

    assert box(15) == "3840m"
    assert box(256) == "32768m"

    monkeypatch.setenv("VSP_DRIVER_MEMORY", "3g")
    assert box(256) == "3g"


def test_default_shuffle_width_is_local_cores(monkeypatch):
    """get_spark's shuffle width defaults to the core count, so a
    shuffle stage runs in one task wave: below 8 cores it is ``cpus``
    (the rule was ``max(cpus, 8)``), at 8 or more it is unchanged; an
    explicit width still wins. Read off the builder's confs — one JVM
    per process, so a real session cannot be rebuilt at each width."""
    built = {}

    class Builder:
        def master(self, master):
            built["master"] = master
            return self

        def appName(self, _name):
            return self

        def config(self, key, value):
            built[key] = value
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    monkeypatch.setattr(session, "ensure_runtime_confs", lambda spark: spark)

    def width(cpus, **kw):
        session.get_spark(cpus=cpus, **kw)
        assert built["master"] == f"local[{cpus}]"
        return int(built["spark.sql.shuffle.partitions"])

    assert [width(c) for c in (1, 2, 4, 7)] == [1, 2, 4, 7]
    assert [width(c) for c in (8, 16, 32)] == [max(c, 8) for c in (8, 16, 32)]
    assert width(4, shuffle_partitions=8) == 8
