"""Incrementally-maintained rollup table (streaming/rollup.py).

Contract under test, end to end on real parquet dirs:
* append-mode maintenance materializes a window exactly once, when the
  watermark closes it — including across a stop/restart on the same
  checkpoint (file-sink ``_spark_metadata`` exactly-once);
* batch backfill with dynamic partition overwrite is idempotent and
  value-identical to the live rows (shared aggregation builder, HLL++
  in both modes);
* the serving read unions live ∪ backfill with live winning.
"""

from __future__ import annotations

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from video_stream_processor_spark.io import _normalize_events
from video_stream_processor_spark.operators import hll
from video_stream_processor_spark.schemas import EVENTS_RAW_SCHEMA
from video_stream_processor_spark.streaming import (
    backfill_rollup,
    read_rollup,
    rollup_stats,
    start_rollup_maintenance,
)
from video_stream_processor_spark.streaming.rollup import ROLLUP_KEY

COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _sk(t):
    """Row sort key total-ordered under a NULL event_type."""
    return (t[0], t[1], t[2] is not None, t[2] or "")

H08 = 1704096000  # 2024-01-01 08:00:00 UTC
H10 = 1704103200
H11 = 1704106800
H12 = 1704110400
H13 = 1704114000

FILE_A = [
    (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
    (2, "2024-01-01 10:30:00", 2, "click", 2.0, "{}"),
    (3, "2024-01-01 10:40:00", 1, "view", 1.5, "{}"),
    # NULL event_type is a legitimate group: it must survive the rollup
    # as its own key AND dedupe null-safely in the serving read
    (7, "2024-01-01 10:50:00", 4, None, 0.5, "{}"),
    (4, "2024-01-01 11:15:00", 3, "click", 3.0, "{}"),
]
# watermark 30m: landing FILE_B advances wm to 12:00 → closes the
# 10:00 and 11:00 windows; FILE_C advances it to 13:15 → closes 12:00.
FILE_B = [(5, "2024-01-01 12:30:00", 1, "click", 1.0, "{}")]
FILE_C = [(6, "2024-01-01 13:45:00", 2, "view", 2.5, "{}")]


def _land(src_dir, name, rows):
    """Write one raw events file; sleep first so the file source's
    mtime ordering matches landing order."""
    time.sleep(1.1)
    pdf = pd.DataFrame(rows, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf.to_parquet(src_dir / name)


def _events_stream(spark, src_dir):
    raw = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src_dir))
    )
    return _normalize_events(raw)


def _batch_rollup_rows(spark, rows, keys):
    """Expected table content: the batch twin of the SAME aggregation
    over all landed events, restricted to the closed-window keys."""
    pdf = pd.DataFrame(rows, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    out = rollup_stats(ev).filter(F.col("win_start").isin(*keys))
    return sorted(
        map(tuple, out.select(*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx").collect()),
        key=_sk,
    )


def _table_rows(spark, table_dir):
    df = spark.read.parquet(str(table_dir)).withColumn(
        "win_start", F.col("win_start").cast("long")
    )
    return sorted(
        map(tuple, df.select(*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx").collect()),
        key=_sk,
    )


def test_rollup_maintenance_exactly_once_with_restart(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    table = tmp_path / "rollup_live"
    ckpt = str(tmp_path / "ckpt")

    def run():
        q = start_rollup_maintenance(
            _events_stream(spark, src), str(table), ckpt, watermark="30 minutes"
        )
        q.awaitTermination(180)
        return q

    _land(src, "a.parquet", FILE_A)
    _land(src, "b.parquet", FILE_B)
    run()
    got1 = _table_rows(spark, table)
    # only the watermark-closed windows are materialized, value-equal
    # to the batch twin over everything landed so far
    assert {r[0] for r in got1} == {H10, H11}
    assert got1 == _batch_rollup_rows(spark, FILE_A + FILE_B, [H10, H11])

    # land more data, RESTART on the same checkpoint: the 12:00 window
    # closes and appends; previously-written windows are not re-emitted
    # (no duplicate keys) and not recomputed (offsets resumed)
    _land(src, "c.parquet", FILE_C)
    q2 = run()
    assert sum(p["numInputRows"] for p in q2.recentProgress) == len(FILE_C)
    got2 = _table_rows(spark, table)
    assert {r[0] for r in got2} == {H10, H11, H12}
    assert len({r[:3] for r in got2}) == len(got2), "duplicate rollup keys"
    assert got2 == _batch_rollup_rows(spark, FILE_A + FILE_B + FILE_C, [H10, H11, H12])


def test_rollup_precision_parameter_threads_and_state_shape(spark, tmp_path):
    """r7-verdict order: ``p`` is the state/accuracy dial. At p=8 the
    maintainer, backfill, and coarsen all agree (live == backfill as
    EXACT equality incl. the 256-register sketch); progress metrics
    expose the chained stateful shape (2 state operators) with stage-1
    rows bounded by distinct (window, etype, user-bucket)."""
    src = tmp_path / "src"
    src.mkdir()
    live = tmp_path / "live_p8"
    _land(src, "a.parquet", FILE_A)
    _land(src, "b.parquet", FILE_B)
    _land(src, "c.parquet", FILE_C)
    q = start_rollup_maintenance(
        _events_stream(spark, src),
        str(live),
        str(tmp_path / "ckpt"),
        watermark="30 minutes",
        p=8,
    )
    q.awaitTermination(180)

    live_df = spark.read.parquet(str(live))
    assert live_df.select(F.size("n_users_sketch")).distinct().collect() == [
        (256,)
    ], "p=8 sketch must persist 2^8 registers"

    # exact-equality twin: batch backfill at the SAME p
    pdf = pd.DataFrame(FILE_A + FILE_B + FILE_C, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    bf = tmp_path / "bf_p8"
    backfill_rollup(ev, str(bf), p=8)
    cols = [*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx", "n_users_sketch"]

    def rows(d):
        df = spark.read.parquet(str(d)).withColumn(
            "win_start", F.col("win_start").cast("long")
        )
        return sorted(
            ((*r[:-1], tuple(r[-1])) for r in map(tuple, df.select(*cols).collect())),
            key=_sk,
        )

    live_keys = {r[0] for r in rows(live)}
    assert rows(live) == [r for r in rows(bf) if r[0] in live_keys]

    # a mismatched-p merge is the documented format error: coarsening a
    # p=8 tier with the p=12 default must not produce a 4096-wide array
    from video_stream_processor_spark.streaming import coarsen_rollup

    day = coarsen_rollup(spark.read.parquet(str(bf)), "1 day", p=8)
    assert day.select(F.size("n_users_sketch")).distinct().collect() == [(256,)]

    # chained stateful aggregation: exactly 2 state operators; stage-1
    # state (the bucketed partials) bounded by its worst case —
    # open (window, etype) groups x min(distinct users, 2^8)
    with_ops = [pr for pr in q.recentProgress if pr["stateOperators"]]
    assert with_ops, "no state-operator metrics in progress"
    n_ops = {len(pr["stateOperators"]) for pr in with_ops}
    assert n_ops == {2}, n_ops  # both groupBys are stateful (same name)
    per_op = [
        max(pr["stateOperators"][i]["numRowsTotal"] for pr in with_ops)
        for i in range(2)
    ]
    n_groups = ev.select(
        F.window("ts", "1 hour"), "event_type"
    ).distinct().count()
    n_stage1_bound = ev.select(
        F.window("ts", "1 hour"), "event_type", "user_id"
    ).distinct().count()
    lo, hi = sorted(per_op)
    assert lo <= n_groups and hi <= n_stage1_bound, (per_op, n_groups, n_stage1_bound)


def test_rollup_sketch_precision_mismatch_fails_loudly(spark, tmp_path):
    """``p`` is part of the rollup table format; getting it wrong must
    be an ERROR, not a silently wrong answer — and since format v4 the
    caller shouldn't be supplying it at all: `coarsen_rollup` derives
    p from the tier's own sketches (r8-verdict order: derive-on-read).
    An explicit p that disagrees raises at EXECUTION from the hll size
    guard — not at build time, which would need an eager probe of the
    finer frame and turn every composed rollup_stats|>coarsen plan
    into a double aggregation (r9 review; laziness itself is pinned in
    test_coarsen_rollup_explicit_p_is_a_pure_plan_builder). Without
    the guard, zip_with would pad the 256-register arrays with NULLs,
    `greatest` would ignore them, and the merged sketch would
    confidently underestimate."""
    pdf = pd.DataFrame(FILE_A + FILE_B + FILE_C, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    bf = tmp_path / "bf_p8"
    backfill_rollup(ev, str(bf), p=8)
    finer = spark.read.parquet(str(bf))

    from video_stream_processor_spark.operators import hll
    from video_stream_processor_spark.streaming import coarsen_rollup

    # explicit p that disagrees with the table: the plan builds (pure
    # builder, no probe) and the first action fails loudly with the
    # observed-vs-expected register sizes
    with pytest.raises(Exception, match="register array size 256"):
        coarsen_rollup(finer, "1 day", p=12).collect()
    # estimate at the wrong precision: the same hll-level guard
    with pytest.raises(Exception, match="register array size 256"):
        finer.select(hll.estimate_col("n_users_sketch", p=12)).collect()
    # derive-on-read: NO p argument coarsens a p=8 tier correctly, and
    # the derived day tier equals the one computed directly from facts
    day = coarsen_rollup(finer, "1 day")
    assert day.select(F.size("n_users_sketch")).distinct().collect() == [
        (256,)
    ]
    direct = rollup_stats(ev, "1 day", p=8)
    cols = [*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx", "n_users_sketch"]

    def norm(df):
        df = df.withColumn("win_start", F.col("win_start").cast("long")).withColumn(
            "win_end", F.col("win_end").cast("long")
        )
        return sorted(
            ((*r[:-1], tuple(r[-1])) for r in map(tuple, df.select(*cols).collect())),
            key=_sk,
        )

    assert norm(day) == norm(direct)


def test_backfill_idempotent_and_serving_read(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    live = tmp_path / "rollup_live"
    bf = tmp_path / "rollup_backfill"

    _land(src, "a.parquet", FILE_A)
    _land(src, "b.parquet", FILE_B)
    _land(src, "c.parquet", FILE_C)
    q = start_rollup_maintenance(
        _events_stream(spark, src), str(live), str(tmp_path / "ckpt"), watermark="30 minutes"
    )
    q.awaitTermination(180)
    live_rows = _table_rows(spark, live)
    assert {r[0] for r in live_rows} == {H10, H11, H12}

    # backfill includes pre-stream history (08:00) plus the live range;
    # running it twice must converge (dynamic partition overwrite)
    history = [(100, "2024-01-01 08:05:00", 9, "click", 4.0, "{}")]
    all_rows = history + FILE_A + FILE_B + FILE_C
    pdf = pd.DataFrame(all_rows, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    backfill_rollup(ev, str(bf), upto_epoch=H12 + 3600)
    once = _table_rows(spark, bf)
    backfill_rollup(ev, str(bf), upto_epoch=H12 + 3600)
    assert _table_rows(spark, bf) == once
    assert {r[0] for r in once} == {H08, H10, H11, H12}

    # serving read: live ∪ backfill, live wins on collision — the
    # shared builder makes overlapping rows value-identical anyway
    served = read_rollup(spark, str(live), str(bf))
    got = sorted(
        map(
            tuple,
            served.select(*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx").collect(),
        ),
        key=_sk,
    )
    assert {r[0] for r in got} == {H08, H10, H11, H12}
    assert len({r[:3] for r in got}) == len(got)
    overlapping = [r for r in got if r[0] != H08]
    assert overlapping == live_rows
    # the NULL-key row exists exactly once in the served view (null-safe
    # anti-join — a plain equi-join would have kept the backfill twin too)
    assert sum(1 for r in got if r[0] == H10 and r[2] is None) == 1


def test_tiered_compaction_incremental_and_equivalent(spark, tmp_path):
    """compact_rollup fixes the small-files problem without touching
    the live sink: after compaction the tiered read equals the plain
    live read; a later maintenance pass lands in the live TAIL only;
    re-compaction is incremental (already-compacted partitions' files
    are untouched) and converges."""
    import glob

    from video_stream_processor_spark.streaming import (
        compact_rollup,
        read_rollup_tiered,
    )

    src = tmp_path / "src"
    src.mkdir()
    live = str(tmp_path / "live")
    ckpt = str(tmp_path / "ckpt")
    base = str(tmp_path / "base")

    def maintain():
        q = start_rollup_maintenance(
            _events_stream(spark, src), live, ckpt, watermark="30 minutes"
        )
        q.awaitTermination(180)

    def tiered_rows():
        df = read_rollup_tiered(spark, live, base)
        return sorted(
            map(
                tuple,
                df.select(*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx").collect(),
            ),
            key=_sk,
        )

    _land(src, "a.parquet", FILE_A)
    _land(src, "b.parquet", FILE_B)
    maintain()
    hwm1 = compact_rollup(spark, live, base)
    assert hwm1 == H11
    assert tiered_rows() == _table_rows(spark, live)
    h10_files_before = set(glob.glob(f"{base}/win_start={H10}/*.parquet"))
    assert h10_files_before
    # compaction actually compacts: each partition is written by one
    # task -> exactly one file here (rows per window << the file cap)
    for d in glob.glob(f"{base}/win_start=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d

    # new window closes in live; the tiered read serves it from the
    # tail before any re-compaction happens
    _land(src, "c.parquet", FILE_C)
    maintain()
    assert tiered_rows() == _table_rows(spark, live)
    assert {r[0] for r in tiered_rows()} == {H10, H11, H12}

    # incremental re-compaction: advances the mark, rewrites ONLY the
    # new partition, and stays equivalent; a repeat pass is a no-op
    hwm2 = compact_rollup(spark, live, base)
    assert hwm2 == H12
    assert set(glob.glob(f"{base}/win_start={H10}/*.parquet")) == h10_files_before
    assert tiered_rows() == _table_rows(spark, live)
    assert compact_rollup(spark, live, base) == H12
    assert tiered_rows() == _table_rows(spark, live)


def test_tiered_read_self_heals_when_compaction_dies_before_hwm(
    spark, tmp_path, monkeypatch
):
    """Crash injection for the r5-verdict hazard: compact_rollup's base
    overwrite lands but the process dies BEFORE the manifest advance.
    The manifest then lags windows already present in base; a tiered
    read trusting it would serve those windows from both tiers. The
    read must instead derive the effective mark from base content and
    stay value-identical to the live table through the crash window,
    and a subsequent (retried) compaction must converge."""
    from video_stream_processor_spark.streaming import (
        compact_rollup,
        read_rollup_tiered,
    )
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    src = tmp_path / "src"
    src.mkdir()
    live = str(tmp_path / "live")
    ckpt = str(tmp_path / "ckpt")
    base = str(tmp_path / "base")

    def maintain():
        q = start_rollup_maintenance(
            _events_stream(spark, src), live, ckpt, watermark="30 minutes"
        )
        q.awaitTermination(180)

    def tiered_rows():
        df = read_rollup_tiered(spark, live, base)
        return sorted(
            map(
                tuple,
                df.select(
                    *ROLLUP_KEY, "n_events", "sum_value", "n_users_approx"
                ).collect(),
            ),
            key=_sk,
        )

    _land(src, "a.parquet", FILE_A)
    _land(src, "b.parquet", FILE_B)
    maintain()
    assert compact_rollup(spark, live, base) == H11  # healthy pass, mark=H11

    # new window closes in live, then compaction CRASHES between its
    # two steps: the base overwrite runs, the mark advance does not
    _land(src, "c.parquet", FILE_C)
    maintain()
    monkeypatch.setattr(rollup_mod, "_write_hwm", lambda *_: None)
    compact_rollup(spark, live, base)
    monkeypatch.undo()
    assert rollup_mod._read_hwm(base) == H11, "crash injection misfired"
    base_keys = {
        r[0]
        for r in spark.read.parquet(base)
        .select(F.col("win_start").cast("long"))
        .collect()
    }
    assert H12 in base_keys, "crash injection misfired: base missing H12"

    # the serving read heals: no duplicate keys, value-equal to live
    got = tiered_rows()
    assert len({r[:3] for r in got}) == len(got), "double-served windows"
    assert got == _table_rows(spark, live)

    # the retried compaction converges and the read stays equivalent
    assert compact_rollup(spark, live, base) == H12
    assert tiered_rows() == _table_rows(spark, live)


def test_backfill_retraction_requires_replace_all(spark, tmp_path):
    """The retraction caveat in backfill_rollup's contract, proven both
    ways: when a correction removes EVERY event in a window, the
    dynamic-overwrite re-run produces no row for that partition and
    demonstrably leaves the stale directory behind (the documented
    trap), while ``replace_all=True`` rewrites the table and the stale
    window is gone."""
    bf = str(tmp_path / "bf")

    def events_of(rows):
        pdf = pd.DataFrame(rows, columns=COLS)
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        return _normalize_events(
            spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA)
        )

    history = [(100, "2024-01-01 08:05:00", 9, "click", 4.0, "{}")]
    backfill_rollup(events_of(history + FILE_A + FILE_B), bf)
    assert {r[0] for r in _table_rows(spark, bf)} == {H08, H10, H11, H12}

    # upstream correction deletes the ONLY 08:00 event → the recompute
    # emits no H08 row; dynamic overwrite cannot retract the partition
    corrected = events_of(FILE_A + FILE_B)
    backfill_rollup(corrected, bf)
    assert {r[0] for r in _table_rows(spark, bf)} == {H08, H10, H11, H12}, (
        "dynamic overwrite unexpectedly retracted an empty window — "
        "update the backfill_rollup docstring if Spark semantics changed"
    )

    # replace_all: static overwrite, the stale partition is gone and
    # the surviving windows are untouched value-for-value
    want = sorted(
        (r for r in _table_rows(spark, bf) if r[0] != H08), key=_sk
    )
    backfill_rollup(corrected, bf, replace_all=True)
    got = _table_rows(spark, bf)
    assert {r[0] for r in got} == {H10, H11, H12}
    assert got == want


def test_manifest_format_version_guard(tmp_path):
    """The version boundary in the module docstring, enforced in code:
    a base-tier manifest written by other-version code (including the
    pre-round-5 format, which has no version key) must fail loudly on
    read instead of letting tiered serving / compaction silently mix
    aggregation semantics across the boundary."""
    import json

    from video_stream_processor_spark.streaming import rollup as rollup_mod

    base = tmp_path / "base"

    # current-format round trip: v4 manifests are self-describing on p
    rollup_mod._write_hwm(str(base), 12345, 8)
    assert rollup_mod._read_hwm(str(base)) == 12345
    assert rollup_mod.rollup_table_p(str(base)) == 8
    manifest = json.loads((base / rollup_mod._HWM_FILE).read_text())
    assert manifest["format_version"] == rollup_mod.ROLLUP_FORMAT_VERSION
    assert manifest["p"] == 8
    # no base tier at all: p is simply unknown, not an error
    assert rollup_mod.rollup_table_p(str(tmp_path / "nowhere")) is None

    # pre-round-5 manifest: no version key → implicit version 1
    (base / rollup_mod._HWM_FILE).write_text(
        json.dumps({"win_start_hwm": 99})
    )
    with pytest.raises(ValueError, match="format.*version 1"):
        rollup_mod._read_hwm(str(base))

    # round-7/8 manifest (v3): refused, and the message must steer to
    # the manifest-only upgrade — the row bytes are identical
    (base / rollup_mod._HWM_FILE).write_text(
        json.dumps({"win_start_hwm": 99, "format_version": 3})
    )
    with pytest.raises(ValueError, match="upgrade_rollup_v3_to_v4"):
        rollup_mod._read_hwm(str(base))

    # future-format manifest: refuse equally loudly
    (base / rollup_mod._HWM_FILE).write_text(
        json.dumps({"win_start_hwm": 99, "format_version": 999})
    )
    with pytest.raises(ValueError, match="version 999"):
        rollup_mod._read_hwm(str(base))


def test_rollup_v4_manifest_derives_p_end_to_end(spark, tmp_path):
    """The r8-verdict order made executable: a p=8-written table
    serves, compacts, and coarsens correctly with NO p argument
    anywhere — p lives in the v4 manifest (stamped by compaction from
    the rows themselves) and in the rows (sketch_p_of) — while a
    conflicting explicit p fails fast at every entry point."""
    import json

    from video_stream_processor_spark.streaming import (
        coarsen_rollup,
        compact_rollup,
        read_rollup_tiered,
        rollup_table_p,
        sketch_p_of,
    )
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    live = str(tmp_path / "live")
    base = str(tmp_path / "base")
    pdf = pd.DataFrame(FILE_A + FILE_B + FILE_C, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    backfill_rollup(ev, live, p=8)

    # the table describes itself: rows carry p, compaction stamps it
    assert sketch_p_of(spark.read.parquet(live)) == 8
    assert compact_rollup(spark, live, base) == H13
    assert rollup_table_p(base) == 8
    manifest = json.loads(
        (tmp_path / "base" / rollup_mod._HWM_FILE).read_text()
    )
    assert manifest["p"] == 8

    # serve + coarsen with NO p argument, on a non-default-p table
    served = read_rollup_tiered(spark, live, base)
    assert served.count() == spark.read.parquet(live).count()
    day = coarsen_rollup(served, "1 day")
    assert day.select(F.size("n_users_sketch")).distinct().collect() == [
        (256,)
    ]

    # conflicting explicit p fails fast at every entry point
    with pytest.raises(ValueError, match="written at p=8"):
        read_rollup_tiered(spark, live, base, p=12)
    # (a no-op compaction returns before any row is seen, so roll the
    # mark back to make the pass actually re-derive from rows)
    rollup_mod._write_hwm(base, H08, 8)
    with pytest.raises(ValueError, match="written at p=8"):
        compact_rollup(spark, live, base, p=12)

    # mixed-precision table (manifest says 12, live rows say 8): the
    # next compaction must refuse rather than merge across precisions
    rollup_mod._write_hwm(base, H08, 12)
    with pytest.raises(ValueError, match="format boundary"):
        compact_rollup(spark, live, base)


def test_upgrade_rollup_v3_to_v4_manifest_only(spark, tmp_path):
    """v3→v4 changed only the manifest, so the upgrade is one call
    that derives p from the base tier's own sketches and restamps —
    no rewrite, no fresh checkpoint — after which serving works
    again. Idempotent; refuses older formats (those changed row
    semantics and need migrate_rollup)."""
    import json

    from video_stream_processor_spark.streaming import (
        compact_rollup,
        read_rollup_tiered,
        rollup_table_p,
        upgrade_rollup_v3_to_v4,
    )
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    live = str(tmp_path / "live")
    base = str(tmp_path / "base")
    pdf = pd.DataFrame(FILE_A + FILE_B + FILE_C, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    backfill_rollup(ev, live, p=8)
    assert compact_rollup(spark, live, base) == H13

    # rewind the manifest to what r7/r8 code wrote: v3, no p key
    manifest_path = tmp_path / "base" / rollup_mod._HWM_FILE
    manifest_path.write_text(
        json.dumps({"win_start_hwm": H13, "format_version": 3})
    )
    with pytest.raises(ValueError, match="upgrade_rollup_v3_to_v4"):
        read_rollup_tiered(spark, live, base)

    assert upgrade_rollup_v3_to_v4(spark, base) == 8
    assert rollup_table_p(base) == 8
    assert read_rollup_tiered(spark, live, base).count() > 0
    # idempotent: a second run is a no-op returning the recorded p
    assert upgrade_rollup_v3_to_v4(spark, base) == 8

    # an older boundary is NOT manifest-only — refuse with direction
    manifest_path.write_text(
        json.dumps({"win_start_hwm": H13, "format_version": 2})
    )
    with pytest.raises(ValueError, match="migrate_rollup"):
        upgrade_rollup_v3_to_v4(spark, base)


def test_tiered_read_steady_state_is_plain_union(spark, tmp_path):
    """r8-advisor: the torn-compaction heal join must be priced for
    the rare case it exists for. After a CLEAN compaction (base holds
    nothing above the mark) the serving read's plan must contain no
    join at all — just the two pruned scans unioned; the count-compare
    join may appear only when base content actually runs ahead of the
    manifest."""
    import contextlib
    import io as _io

    from video_stream_processor_spark.streaming import (
        compact_rollup,
        read_rollup_tiered,
    )
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    live = str(tmp_path / "live")
    base = str(tmp_path / "base")
    pdf = pd.DataFrame(FILE_A + FILE_B + FILE_C, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    backfill_rollup(ev, live)
    assert compact_rollup(spark, live, base) == H13

    def plan(df):
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    steady = read_rollup_tiered(spark, live, base)
    assert "Join" not in plan(steady)
    assert steady.count() == spark.read.parquet(live).count()

    # crash window: manifest lags base content → the heal join appears
    rollup_mod._write_hwm(base, H10, hll.DEFAULT_P)
    healing = read_rollup_tiered(spark, live, base)
    assert "Join" in plan(healing)
    assert healing.count() == spark.read.parquet(live).count()


def test_tiered_read_time_predicate_prunes_partitions(spark, tmp_path):
    """The serving claim 'a reader's time-range predicate prunes
    partitions at the source': a win_start filter over the tiered read
    must land in the PartitionFilters of BOTH scans (base and live
    tail) — asserted from the formatted plan, not prose."""
    import contextlib
    import io as _io

    from video_stream_processor_spark.streaming import (
        backfill_rollup,
        compact_rollup,
        read_rollup_tiered,
    )

    pdf = pd.DataFrame(FILE_A + FILE_B + FILE_C, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    live = str(tmp_path / "live")
    base = str(tmp_path / "base")
    backfill_rollup(ev, live)
    compact_rollup(spark, live, base)

    df = read_rollup_tiered(spark, live, base).filter(F.col("win_start") >= H11)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert len(pf) >= 2, plan  # one per tier
    for ln in pf:
        assert "win_start" in ln, ln
    # and the predicate actually reduces what is read
    assert df.count() < read_rollup_tiered(spark, live, base).count()


def test_rollup_rows_equal_batch_twin_under_incremental_replay(spark, sf_dir, tmp_path):
    """The exact-cents equivalence on REAL fixture data under
    incremental micro-batching (the ADVICE-r4 hazard: float sums are
    order-dependent, so a streaming-maintained partition could disagree
    with its batch backfill twin at realistic row counts): replay the
    whole events fixture as 5 time-banded files, one per trigger, and
    require every window the maintainer materializes to be
    cell-identical to the ONE-BATCH rollup of the full table. The
    streaming side accumulates each window's sum across trigger-local
    partials in state; the batch side sums in one pass in a different
    order — integer-cents sums and HLL register merges are both
    order-independent, so equality is exact, not approximate."""
    from pyspark.sql import Window as W

    from video_stream_processor_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    # 5 contiguous time bands; land them oldest-first so arrival order
    # is non-decreasing and the 30-min watermark never drops data
    banded = ev.select(
        *COLS, F.ntile(5).over(W.orderBy("ts", "event_id")).alias("_band")
    ).toPandas()
    src = tmp_path / "src"
    src.mkdir()
    for i in sorted(banded["_band"].unique()):
        time.sleep(1.1)  # mtime ordering = landing order for the source
        banded[banded["_band"] == i].drop(columns="_band").to_parquet(
            src / f"band{i}.parquet"
        )

    schema = spark.read.parquet(str(src)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    live = str(tmp_path / "live")
    q = start_rollup_maintenance(
        _normalize_events(raw), live, str(tmp_path / "ckpt"),
        watermark="30 minutes",
    )
    assert q.awaitTermination(300)

    got = _table_rows(spark, live)
    assert len(got) > 50, "too few windows closed — fixture/watermark drifted"
    keys = {r[0] for r in got}
    want = sorted(
        map(
            tuple,
            rollup_stats(ev)
            .filter(F.col("win_start").isin(*keys))
            .select(*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx")
            .collect(),
        ),
        key=_sk,
    )
    assert got == want


def test_coarsen_rollup_day_equals_direct_from_facts(spark, sf_dir):
    """Re-aggregability (r6-verdict missing #2): the day tier DERIVED
    from the hour tier's persisted sketches must equal the day tier
    computed directly from the fact table — EXACT equality on every
    column including the sketch bytes and the distinct estimate, not
    an error bound (element-wise register max is associative, so the
    derivation path cannot change the registers)."""
    from video_stream_processor_spark.io import load_table
    from video_stream_processor_spark.streaming import coarsen_rollup

    ev = load_table(spark, sf_dir, "events")
    cols = [*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx", "n_users_sketch"]

    def rows(df):
        return sorted(
            ((*t[:-1], tuple(t[-1])) for t in map(tuple, df.select(*cols).collect())),
            key=_sk,
        )

    derived = rows(coarsen_rollup(rollup_stats(ev, "1 hour"), "1 day"))
    direct = rows(rollup_stats(ev, "1 day"))
    assert len(derived) > 5
    assert derived == direct


def test_coarsen_rollup_rejects_straddling_windows(spark, sf_dir):
    """A fine window that straddles a coarse boundary cannot be split
    from summaries — the bucketing must raise, not mis-assign."""
    from video_stream_processor_spark.io import load_table
    from video_stream_processor_spark.streaming import coarsen_rollup

    ev = load_table(spark, sf_dir, "events")
    bad = coarsen_rollup(rollup_stats(ev, "1 hour"), "90 minutes")
    with pytest.raises(Exception, match="straddles"):
        bad.collect()


def test_tiered_read_serves_gapped_base_exactly_once(spark, tmp_path):
    """r6-advisor hazard: a crash mid job-commit of the dynamic
    overwrite can leave base with a LATER window present and an
    earlier one missing. A single healed mark (max of base content)
    would skip past the gap and silently under-serve the missing
    window; the per-window anti-join tail must serve it from live —
    every window exactly once."""
    from video_stream_processor_spark.streaming import (
        compact_rollup,
        read_rollup_tiered,
    )
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    live = str(tmp_path / "live")
    base = str(tmp_path / "base")
    pdf = pd.DataFrame(FILE_A + FILE_B + FILE_C, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    backfill_rollup(ev, live)
    # batch backfill has no watermark: FILE_C's 13:45 event also lands
    # the (still-open-in-streaming) 13:00 window -> hwm = H13
    assert compact_rollup(spark, live, base) == H13

    # tear the base tier: H11 vanishes while H12 stays, and the
    # manifest lags at H10 (crash after a partial partition commit)
    import shutil

    shutil.rmtree(f"{base}/win_start={H11}")
    rollup_mod._write_hwm(base, H10, hll.DEFAULT_P)

    got = sorted(
        map(
            tuple,
            read_rollup_tiered(spark, live, base)
            .select(*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx")
            .collect(),
        ),
        key=_sk,
    )
    assert got == _table_rows(spark, live)
    assert {r[0] for r in got} == {H10, H11, H12, H13}
    assert len({r[:3] for r in got}) == len(got), "double-served window"


def test_tiered_read_heals_torn_partial_partition(spark, tmp_path):
    """r7-advisor hazard: with writers_per_window>1 a window spans
    several base files, so a crash mid job-commit can leave a partition
    that LISTS the win_start but holds only SOME of its rows. Window
    presence alone would suppress the complete live copy and serve the
    partial silently; the per-window row-count compare must detect the
    shortfall and serve that window from live — every row exactly
    once."""
    import glob
    import os

    from video_stream_processor_spark.streaming import (
        compact_rollup,
        read_rollup_tiered,
    )
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    live = str(tmp_path / "live")
    base = str(tmp_path / "base")
    pdf = pd.DataFrame(FILE_A + FILE_B + FILE_C, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    backfill_rollup(ev, live)
    # max_records_per_file=1 forces every window to span multiple files
    # (the advisor's exact setup: a window that is not one atomic file)
    assert compact_rollup(spark, live, base, max_records_per_file=1) == H13

    # tear H10 (the multi-row window): drop ONE of its files so the
    # partition still lists but is incomplete, and roll the manifest
    # back before it (crash after a partial partition commit)
    files = sorted(glob.glob(f"{base}/win_start={H10}/*.parquet"))
    assert len(files) >= 2, "need a multi-file partition to tear"
    os.remove(files[0])
    rollup_mod._write_hwm(base, H08, hll.DEFAULT_P)

    got = sorted(
        map(
            tuple,
            read_rollup_tiered(spark, live, base)
            .select(*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx")
            .collect(),
        ),
        key=_sk,
    )
    assert got == _table_rows(spark, live)
    assert {r[0] for r in got} == {H10, H11, H12, H13}
    assert len({r[:3] for r in got}) == len(got), "double-served window"


def test_compact_rollup_writers_per_window_bounds_files(spark, tmp_path):
    """A hot window (many rows in one win_start) can be split across
    writers_per_window tasks; the pass must still converge to at most
    that many files per partition and stay value-identical."""
    import glob

    from video_stream_processor_spark.streaming import (
        compact_rollup,
        read_rollup_tiered,
    )

    live = str(tmp_path / "live")
    base = str(tmp_path / "base")
    pdf = pd.DataFrame(FILE_A + FILE_B + FILE_C, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    backfill_rollup(ev, live)
    assert compact_rollup(spark, live, base, writers_per_window=2) == H13
    for d in glob.glob(f"{base}/win_start=*"):
        n = len(glob.glob(f"{d}/*.parquet"))
        assert 1 <= n <= 2, d
    got = sorted(
        map(
            tuple,
            read_rollup_tiered(spark, live, base)
            .select(*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx")
            .collect(),
        ),
        key=_sk,
    )
    assert got == _table_rows(spark, live)
    # repeat pass converges (no growth)
    assert compact_rollup(spark, live, base, writers_per_window=2) == H13
    for d in glob.glob(f"{base}/win_start=*"):
        assert len(glob.glob(f"{d}/*.parquet")) <= 2, d


def test_migrate_rollup_recovers_from_version_mismatch(spark, tmp_path):
    """The version guard's recovery path is executable (r6-advisor):
    after migrate_rollup, serving and compaction run under the current
    format and the stale old-format tiers are gone."""
    import json
    import os

    from video_stream_processor_spark.streaming import (
        compact_rollup,
        migrate_rollup,
        read_rollup_tiered,
    )
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    old_live = tmp_path / "old_live"
    old_base = tmp_path / "old_base"
    old_live.mkdir()
    old_base.mkdir()
    (old_base / rollup_mod._HWM_FILE).write_text(
        json.dumps({"win_start_hwm": H10, "format_version": 2})
    )
    with pytest.raises(ValueError, match="format"):
        rollup_mod._read_hwm(str(old_base))

    pdf = pd.DataFrame(FILE_A + FILE_B + FILE_C, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    new_live = str(tmp_path / "new_live")
    migrate_rollup(
        ev, new_live, old_base_dir=str(old_base), old_live_dir=str(old_live)
    )
    assert not os.path.exists(old_base) and not os.path.exists(old_live)

    base = str(tmp_path / "base")
    served = read_rollup_tiered(spark, new_live, base)  # no manifest yet
    assert served.count() > 0
    assert compact_rollup(spark, new_live, base) == H13
    assert rollup_mod._read_hwm(base) == H13  # current-version manifest


def _rollup_shaped(spark, win_start_col, m: int = 256):
    """A frame with the exact rollup-tier schema; win_start is the
    caller's column so a poison (raise_error) frame can pin laziness."""
    return spark.range(2).select(
        win_start_col.alias("win_start"),
        ((F.col("id") + 1) * 3600).cast("long").alias("win_end"),
        F.lit("play").alias("event_type"),
        F.lit(1).cast("long").alias("n_events"),
        F.lit(0.0).alias("sum_value"),
        F.expr(f"array_repeat(cast(0 as tinyint), {m})").alias(
            "n_users_sketch"
        ),
    )


def test_coarsen_rollup_explicit_p_is_a_pure_plan_builder(spark):
    """r9 review finding, pinned: coarsen_rollup with an EXPLICIT p
    must run no Spark action at build time — a composed
    rollup_stats|>coarsen plan would otherwise execute its entire
    upstream aggregation just to probe one array size, and a streaming
    frame cannot be probed at all. Poison frame: executing win_start
    raises, so if plan-building ever probes again this test fails with
    'executed at build time'. A WRONG explicit p still fails loudly —
    at execution, from the r8 hll size guard (defense in depth)."""
    from video_stream_processor_spark.streaming import coarsen_rollup

    poison = _rollup_shaped(
        spark,
        F.expr("raise_error('executed at build time')").cast("long"),
    )
    day = coarsen_rollup(poison, "1 day", p=8)  # must NOT raise
    with pytest.raises(Exception, match="executed at build time"):
        day.collect()

    # wrong explicit p: builds (trusted lazily), raises at execution
    # with observed-vs-expected register sizes from _checked_registers
    fine = _rollup_shaped(spark, (F.col("id") * 3600).cast("long"), m=256)
    wrong = coarsen_rollup(fine, "1 day", p=12)
    with pytest.raises(Exception, match="register array size"):
        wrong.collect()

    # streaming frame: underivable — explicit p builds a streaming
    # plan, omitting it is a clear immediate error, not a crash inside
    # sketch_p_of's .first()
    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    stream = rate.select(
        F.lit(0).cast("long").alias("win_start"),
        F.lit(3600).cast("long").alias("win_end"),
        F.lit("play").alias("event_type"),
        F.lit(1).cast("long").alias("n_events"),
        F.lit(0.0).alias("sum_value"),
        F.expr("array_repeat(cast(0 as tinyint), 256)").alias(
            "n_users_sketch"
        ),
    )
    assert coarsen_rollup(stream, "1 day", p=8).isStreaming
    with pytest.raises(ValueError, match="streaming"):
        coarsen_rollup(stream, "1 day")


def test_maintenance_state_partitions_sized_equals_default(spark, tmp_path):
    """``state_partitions`` sizes the stateful shuffle (= the number of
    state stores, each paying one delta-commit per micro-batch) without
    touching WHAT is computed: the sized maintainer's table is
    row-identical to the default's including the sketch bytes (the
    register-max merge is partitioning-free by construction), the
    session conf is restored immediately after start (Spark clones the
    session at query start, probe-verified), the query really runs at
    the sized store count, and a RESTART on the same checkpoint keeps
    the captured layout while draining new data."""
    src = tmp_path / "src"
    src.mkdir()
    _land(src, "a.parquet", FILE_A)
    _land(src, "b.parquet", FILE_B)

    def _full_rows(table_dir):
        df = spark.read.parquet(str(table_dir)).withColumn(
            "win_start", F.col("win_start").cast("long")
        ).withColumn("win_end", F.col("win_end").cast("long"))
        cols = [*ROLLUP_KEY, "n_events", "sum_value", "n_users_approx", "n_users_sketch"]
        return sorted(
            ((*r[:-1], tuple(r[-1])) for r in map(tuple, df.select(*cols).collect())),
            key=_sk,
        )

    def _state_parts(q):
        return {
            so.get("numShufflePartitions")
            or so.get("customMetrics", {}).get("numShufflePartitions")
            for p in q.recentProgress
            for so in p.get("stateOperators", [])
        }

    q = start_rollup_maintenance(
        _events_stream(spark, src),
        str(tmp_path / "live_default"),
        str(tmp_path / "ck_default"),
        watermark="30 minutes",
    )
    assert q.awaitTermination(180)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    q2 = start_rollup_maintenance(
        _events_stream(spark, src),
        str(tmp_path / "live_sized"),
        str(tmp_path / "ck_sized"),
        watermark="30 minutes",
        state_partitions=3,
    )
    # conf restored for everything else on the session, even while the
    # sized query is still running
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert q2.awaitTermination(180)
    assert _state_parts(q2) == {3}

    base = _full_rows(tmp_path / "live_default")
    assert base  # watermark advance closed at least one window
    assert _full_rows(tmp_path / "live_sized") == base

    # restart on the sized checkpoint with NO knob: the captured
    # layout wins (Spark replays the checkpointed shuffle partitioning)
    # and the new file drains into new closed windows
    _land(src, "c.parquet", FILE_C)
    q3 = start_rollup_maintenance(
        _events_stream(spark, src),
        str(tmp_path / "live_sized"),
        str(tmp_path / "ck_sized"),
        watermark="30 minutes",
    )
    assert q3.awaitTermination(180)
    assert _state_parts(q3) == {3}
    after = _full_rows(tmp_path / "live_sized")
    assert len(after) > len(base) and set(map(_sk, base)) <= set(map(_sk, after))

    # an explicit value that MATCHES the captured layout resumes fine;
    # a DISAGREEING one fails loudly instead of being silently ignored
    # by Spark (the p lesson: explicit arguments never no-op)
    q4 = start_rollup_maintenance(
        _events_stream(spark, src),
        str(tmp_path / "live_sized"),
        str(tmp_path / "ck_sized"),
        watermark="30 minutes",
        state_partitions=3,
    )
    assert q4.awaitTermination(180)
    with pytest.raises(ValueError, match="captured 3 at first start"):
        start_rollup_maintenance(
            _events_stream(spark, src),
            str(tmp_path / "live_sized"),
            str(tmp_path / "ck_sized"),
            watermark="30 minutes",
            state_partitions=16,
        )


def test_derived_state_partitions_formula(spark):
    """The derived sizing is the 2^p state bound of the constant open
    groups over the per-store row target, floored at the measured wall
    floor (SCALE.md §3 sweep: 4 stores cost +29% wall over the 6-8
    plateau for <2 s of commit-I/O savings) and capped at the
    session's shuffle parallelism — it never sizes past the configured
    width."""
    from video_stream_processor_spark.streaming.rollup import (
        MIN_DERIVED_STATE_STORES,
        derived_state_partitions,
    )

    assert MIN_DERIVED_STATE_STORES == 6  # SCALE.md r13 sweep provenance
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "32")
        # default p=12, 8 open groups, 4096 rows/store: 8*4096/4096 = 8
        assert derived_state_partitions(spark) == 8
        # p=8 shrinks the bound 16x: ceil(8*256/4096) = 1, floored at 6
        assert derived_state_partitions(spark, p=8) == 6
        # a finer sketch derives back up: ceil(8*16384/4096) = 32
        assert derived_state_partitions(spark, p=14) == 32
        # a session configured BELOW the floor wins over the floor: the
        # derivation never sizes past the cluster's configured width
        spark.conf.set(key, "4")
        assert derived_state_partitions(spark, p=8) == 4
    finally:
        spark.conf.set(key, prev)


def test_auto_state_partitions_default(spark, tmp_path):
    """The r10 default: a NEW checkpoint captures the volume-derived
    sizing; a restart on an EXISTING checkpoint resumes the captured
    layout without pinning or raising — and the file:-scheme URI form
    of the same checkpoint no longer slips past the explicit-argument
    disagreement guard (r10 advisor: os.path.isdir('file:...') is
    always False, so the guard failed open silently)."""
    from video_stream_processor_spark.streaming.rollup import (
        _checkpointed_state_partitions,
        derived_state_partitions,
    )

    src = tmp_path / "src"
    src.mkdir()
    _land(src, "a.parquet", FILE_A)
    _land(src, "b.parquet", FILE_B)
    live, ckpt = str(tmp_path / "live"), str(tmp_path / "ckpt")

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "32")
        expect = derived_state_partitions(spark)
        assert expect == 8  # sized below the 32-wide session
        q = start_rollup_maintenance(
            _events_stream(spark, src), live, ckpt, watermark="30 minutes"
        )
        assert q.awaitTermination(180)
    finally:
        spark.conf.set(key, prev)
    # the NEW checkpoint captured the derived sizing, not the session 32
    assert _checkpointed_state_partitions(ckpt) == expect
    state_parts = {
        so.get("numShufflePartitions")
        for pr in q.recentProgress
        for so in pr.get("stateOperators", [])
    }
    assert state_parts == {expect}

    # restart under a DIFFERENT session conf, still on the default:
    # existing checkpoint -> resume captured layout, no pin, no raise
    _land(src, "c.parquet", FILE_C)
    q2 = start_rollup_maintenance(
        _events_stream(spark, src), live, ckpt, watermark="30 minutes"
    )
    assert q2.awaitTermination(180)
    assert _checkpointed_state_partitions(ckpt) == expect

    # file:-scheme URI of the SAME checkpoint: the guard must still
    # see the captured value (advice fix), so a disagreeing explicit
    # resize raises instead of silently failing open
    with pytest.raises(ValueError, match=f"captured {expect} at first start"):
        start_rollup_maintenance(
            _events_stream(spark, src),
            live,
            "file://" + ckpt,
            watermark="30 minutes",
            state_partitions=expect + 1,
        )
    # ...and a MATCHING explicit value through the file: URI resumes
    q3 = start_rollup_maintenance(
        _events_stream(spark, src),
        live,
        "file://" + ckpt,
        watermark="30 minutes",
        state_partitions=expect,
    )
    assert q3.awaitTermination(180)


def test_local_checkpoint_path_shapes():
    """Path-resolution contract behind the state_partitions guard (r10
    review): plain local paths pass through byte-for-byte — including
    '#', '?', and relative names containing ':' which urlparse would
    mangle — file: URIs lose only the scheme, and true remote schemes
    resolve to None (guard warns instead of silently failing open).
    r11 (r10 advisor): the RFC 8089 local authorities resolve to the
    real path — ``file://localhost/x`` used to strip to
    ``//localhost/x``, a directory that never exists, so the explicit
    disagreement guard silently failed open for that legal local form;
    a genuinely remote authority now warns and resolves None (the
    unverifiable-checkpoint path) instead of returning a dead path."""
    import warnings

    from video_stream_processor_spark.streaming.rollup import (
        _local_checkpoint_path as lp,
    )

    assert lp("/data/run#1/ckpt") == "/data/run#1/ckpt"
    assert lp("/tmp/a?b/ckpt") == "/tmp/a?b/ckpt"
    assert lp("ckpt:v1/x") == "ckpt:v1/x"
    assert lp("relative/ckpt") == "relative/ckpt"
    assert lp("file:/x/y") == "/x/y"
    assert lp("file:///x/y") == "/x/y"
    assert lp("file://localhost/x/y") == "/x/y"
    assert lp("file://LOCALHOST/x/y") == "/x/y"  # RFC 3986: hosts case-fold
    with pytest.warns(UserWarning, match="remote file authority 'nas01'"):
        assert lp("file://nas01/x/y") is None
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # the local forms must not warn
        assert lp("hdfs://nn/x") is None
        assert lp("s3a://bucket/x") is None
        assert lp("file:///x/y") == "/x/y"


def test_cli_state_partitions_parser():
    """--state-partitions accepts 'auto' (default), 'session'/'none'
    (legacy session-conf behavior), or an int."""
    from video_stream_processor_spark.__main__ import build_parser

    pr = build_parser()
    assert pr.parse_args(["rollup", "--table-dir", "t"]).state_partitions == "auto"
    assert (
        pr.parse_args(
            ["rollup", "--table-dir", "t", "--state-partitions", "AUTO"]
        ).state_partitions
        == "auto"
    )
    assert (
        pr.parse_args(
            ["rollup", "--table-dir", "t", "--state-partitions", "session"]
        ).state_partitions
        is None
    )
    assert (
        pr.parse_args(
            ["rollup", "--table-dir", "t", "--state-partitions", "12"]
        ).state_partitions
        == 12
    )
    # r11 (r10 advisor): 0/negative/garbage die at the CLI with a usage
    # message instead of flowing into spark.sql.shuffle.partitions and
    # surfacing as an opaque planner error at query start
    for bad in ("0", "-3", "eight"):
        with pytest.raises(SystemExit):
            pr.parse_args(
                ["rollup", "--table-dir", "t", "--state-partitions", bad]
            )
    # the open-group estimate flag is gone: passing it is a usage error
    with pytest.raises(SystemExit):
        pr.parse_args(
            ["rollup", "--table-dir", "t", "--expected-open-groups", "24"]
        )


def test_writer_p_guard_enforces_format_boundary(spark, tmp_path):
    """r12 review: the two components that PERSIST rollup rows enforce
    the p format boundary. The stage-1 state schema is identical at
    every p, so Spark's own checkpoint validation would pass a
    mismatched restart silently and corrupt sketches — the guard
    derives the table's precision from its own rows instead."""
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    pdf = pd.DataFrame(FILE_A, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    table = str(tmp_path / "table")
    backfill_rollup(ev, table, replace_all=True, p=8)

    # incremental backfill at a disagreeing p raises before writing
    with pytest.raises(ValueError, match="p is part of the table format"):
        backfill_rollup(ev, table)  # default p=12 vs the table's 8
    # the same p passes, and replace_all=True at a NEW p is exempt —
    # the static overwrite IS the sanctioned boundary crossing
    backfill_rollup(ev, table, p=8)
    backfill_rollup(ev, table, replace_all=True)  # rebuild at p=12
    assert rollup_mod.sketch_p_of(rollup_mod._read_table(spark, table)) == 12

    # the maintainer refuses to start against the p=12 table at p=8
    src = tmp_path / "src"
    src.mkdir()
    _land(src, "a.parquet", FILE_A)
    with pytest.raises(ValueError, match="p is part of the table format"):
        start_rollup_maintenance(
            _events_stream(spark, src),
            table,
            str(tmp_path / "ckpt"),
            watermark="30 minutes",
            p=8,
        )
    # matching p starts fine (and a FRESH table needs no guard at all)
    q = start_rollup_maintenance(
        _events_stream(spark, src),
        str(tmp_path / "fresh_table"),
        str(tmp_path / "fresh_ckpt"),
        watermark="30 minutes",
        p=8,
    )
    q.awaitTermination(180)


def test_empty_table_dir_reads_as_zero_rows(spark, tmp_path):
    """r12 review: a sink with metadata/no data files (a pass that
    closed zero windows) or an empty dir is 0 rows with the canonical
    schema, not an UNABLE_TO_INFER_SCHEMA traceback — while a MISSING
    path still raises (returning empty there would fail open on a
    typo'd path)."""
    from pyspark.errors import AnalysisException

    from video_stream_processor_spark.streaming import (
        compact_rollup,
        read_rollup_tiered,
    )
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    empty = tmp_path / "empty_live"
    empty.mkdir()
    df = rollup_mod._read_table(spark, str(empty))
    assert df.count() == 0
    assert df.schema == spark.createDataFrame(
        [], schema=rollup_mod.ROLLUP_SCHEMA
    ).schema

    # compaction over the empty live dir returns the (absent) old mark
    # instead of crashing; no manifest is written
    base = tmp_path / "base"
    assert compact_rollup(spark, str(empty), str(base)) is None
    assert rollup_mod._read_manifest(str(base)) is None
    # the tiered read serves 0 rows (manifest-less: live IS the table)
    assert read_rollup_tiered(spark, str(empty), str(base)).count() == 0

    with pytest.raises(AnalysisException):
        rollup_mod._read_table(spark, str(tmp_path / "does_not_exist"))


def test_migrate_rollup_refuses_remote_old_tiers(spark, tmp_path):
    """r12 review: the old-tier deletes are load-bearing (an old-format
    live dir has no manifest guard and stays silently readable), so a
    remote URI old tier raises UP FRONT — before any backfill work —
    instead of shutil.rmtree silently no-opping on a path it cannot
    see."""
    import os

    from video_stream_processor_spark.streaming import migrate_rollup

    pdf = pd.DataFrame(FILE_A, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    new_live = str(tmp_path / "new_live")
    with pytest.raises(ValueError, match="remote URI"):
        migrate_rollup(ev, new_live, old_base_dir="s3a://bucket/rollup_base")
    # raised before the backfill ran — nothing was written
    assert not os.path.exists(new_live)


def test_migrate_rollup_rejects_in_place_migration(spark, tmp_path):
    """r15 review: new_live_dir == an old tier is the intuitive misuse
    (an "in-place upgrade") and would be catastrophic — the backfill
    writes the new table into the dir, then the old-tier cleanup
    rmtree's it, reporting a successful migration with the table gone.
    Must raise up front, before any backfill work."""
    import os

    from video_stream_processor_spark.streaming import migrate_rollup

    pdf = pd.DataFrame(FILE_A, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    target = str(tmp_path / "rollup_live")
    with pytest.raises(ValueError, match="same path"):
        migrate_rollup(ev, target, old_live_dir=target)
    # a symlinked spelling of the same dir must not sneak past
    real = tmp_path / "real_live"
    real.mkdir()
    link = tmp_path / "link_live"
    os.symlink(str(real), str(link))
    with pytest.raises(ValueError, match="same path"):
        migrate_rollup(ev, str(link), old_live_dir=str(real))
    assert not os.path.exists(target)


def test_writer_p_stamp_guards_empty_sink_restart(spark, tmp_path):
    """r12 verdict item 4: the row-derived p guard has a structural
    gap — a maintainer restarted at a new p before the FIRST window
    ever closed finds no rows to derive from. The writer stamp closes
    it: p is declared the moment a writer claims the dir. One landed
    file advances no watermark (the first availableNow batch computes
    at the initial watermark), so the drain closes zero windows — the
    exact empty-sink state the stamp exists for."""
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    src = tmp_path / "src"
    src.mkdir()
    _land(src, "a.parquet", FILE_A)
    table = str(tmp_path / "table")
    q = start_rollup_maintenance(
        _events_stream(spark, src),
        table,
        str(tmp_path / "ckpt1"),
        watermark="30 minutes",
        p=12,
    )
    assert q.awaitTermination(180)
    # precondition of the scenario: the sink really is row-empty (the
    # single trigger ran at the initial watermark, closing nothing), so
    # the pre-r13 rows-only guard would have found nothing to check
    assert rollup_mod._read_table(spark, table).count() == 0
    assert rollup_mod.sketch_p_of(rollup_mod._read_table(spark, table)) is None
    assert rollup_mod._read_writer_p(table) == 12

    # restart at a different p on a fresh checkpoint: caught by the
    # stamp even though no row exists
    with pytest.raises(ValueError, match="writer stamp"):
        start_rollup_maintenance(
            _events_stream(spark, src),
            table,
            str(tmp_path / "ckpt2"),
            watermark="30 minutes",
            p=14,
        )
    # same p restarts fine on the empty sink
    q = start_rollup_maintenance(
        _events_stream(spark, src),
        table,
        str(tmp_path / "ckpt1"),
        watermark="30 minutes",
        p=12,
    )
    assert q.awaitTermination(180)
    # an incremental backfill at a new p is caught by the stamp too;
    # replace_all (the sanctioned boundary crossing) re-claims the dir
    pdf = pd.DataFrame(FILE_A, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    with pytest.raises(ValueError, match="writer stamp"):
        backfill_rollup(ev, table, p=8)
    backfill_rollup(ev, table, replace_all=True, p=8)
    assert rollup_mod._read_writer_p(table) == 8


def test_check_writer_p_reraises_non_missing_analysis_errors(spark, tmp_path):
    """r12 advisor: the guard used to treat ANY AnalysisException as
    'no table dir yet' and skip — a table whose files exist but fail
    analysis (n_users_sketch missing/renamed, the exact format-drift
    class the guard targets) silently disabled the p check, failing
    open. Only a genuinely missing path reads as first start now."""
    from pyspark.errors import AnalysisException

    from video_stream_processor_spark.streaming import rollup as rollup_mod

    # a missing path is a first start: no error, no stamp required
    rollup_mod._check_writer_p(spark, str(tmp_path / "nope"), p=None)

    # a dir holding parquet that is NOT rollup-shaped (no
    # n_users_sketch) must raise, not silently skip the guard
    drifted = str(tmp_path / "drifted")
    spark.range(3).withColumnRenamed("id", "win_start").write.parquet(drifted)
    with pytest.raises(AnalysisException):
        rollup_mod._check_writer_p(spark, drifted, p=None)


def test_rollup_schema_constant_matches_builder(spark):
    """r12 advisor: ROLLUP_SCHEMA (the empty-sink fallback frame) is a
    hand-maintained twin of rollup_stats' output schema; a column
    change to the builder must fail here loudly instead of silently
    desynchronizing the fallback (unionByName would then raise — or a
    renamed column could slip through)."""
    from video_stream_processor_spark.streaming import rollup as rollup_mod

    pdf = pd.DataFrame(FILE_A, columns=COLS)
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    ev = _normalize_events(spark.createDataFrame(pdf, schema=EVENTS_RAW_SCHEMA))
    built = rollup_stats(ev, "1 hour").schema
    const = spark.createDataFrame([], schema=rollup_mod.ROLLUP_SCHEMA).schema
    assert [(f.name, f.dataType.simpleString()) for f in const.fields] == [
        (f.name, f.dataType.simpleString()) for f in built.fields
    ]


def test_manifest_writers_are_atomic_under_same_pid_concurrency(tmp_path):
    """r12 advisor: the old pid-suffixed tmp name only de-conflicted
    cross-PROCESS compaction passes; two threads sharing one session
    (same pid) could interleave on one tmp path and publish torn JSON.
    mkstemp makes the tmp unique per WRITER: a reader racing two
    writing threads must only ever see a whole manifest."""
    import threading

    from video_stream_processor_spark.streaming import rollup as rollup_mod

    base = str(tmp_path / "base")
    rollup_mod._write_hwm(base, 0, p=12)  # seed so the reader never 404s
    stop = threading.Event()
    errors: list[BaseException] = []

    def writer(hwm0: int):
        try:
            for i in range(40):
                rollup_mod._write_hwm(base, hwm0 + i, p=12)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    def reader():
        try:
            while not stop.is_set():
                m = rollup_mod._read_manifest(base)
                assert m is not None and isinstance(m["win_start_hwm"], int)
        except BaseException as e:  # noqa: BLE001 - surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(1000,)),
        threading.Thread(target=writer, args=(2000,)),
        threading.Thread(target=reader),
    ]
    for t in threads[:2]:
        t.start()
    threads[2].start()
    for t in threads[:2]:
        t.join()
    stop.set()
    threads[2].join()
    assert not errors, errors
    final = rollup_mod._read_manifest(base)
    assert final["win_start_hwm"] in set(range(1000, 1040)) | set(
        range(2000, 2040)
    )
    # no orphaned tmp files survive a clean run
    import os

    assert [n for n in os.listdir(base) if n.endswith(".tmp")] == []
