"""Incrementally-maintained rollup tables (the materialized-view
pattern for a continuously-landing fact stream).

The 100 TB shape: events land continuously; consumers read an hourly
``(window, event_type)`` rollup. Recomputing that rollup from raw
events on every refresh rescans the fact table — the reference's
actual design is exactly that, a 2-hour-cron full recompute
(``update-streams.yml:4-10``). The incremental form this module
provides instead:

* **Maintenance** (`start_rollup_maintenance`) — an append-mode
  streaming aggregation into a partitioned parquet table. A window
  materializes exactly once, when the watermark closes it; source
  offsets in the checkpoint plus the parquet file-sink's
  ``_spark_metadata`` transaction log make restarts replay-safe (a
  replayed epoch's files are never double-listed, so downstream
  readers can't see duplicates).
* **Backfill** (`backfill_rollup`) — the batch twin with dynamic
  partition overwrite: a re-run replaces exactly the partitions it
  recomputes, so backfills are idempotent and safe to repeat after an
  upstream correction.
* **Read** (`read_rollup`) — live ∪ backfill with live winning on key
  collision (the lambda-architecture serving read, one anti-join).

Both write paths share ONE aggregation builder, with HLL++
``n_users_approx`` in *both* modes — a materialized table must not
change semantics with execution mode — so live and backfilled
partitions are value-identical and the equivalence is testable as
exact equality (HLL register merge is commutative: same data, same
sketch, any order).

**Version boundary (upgrading from the pre-exact-cents format):**
round 5 changed the persisted aggregation (``sum_value`` is now
derived from an exact integer-cents sum; ``n_users_approx`` tightened
from the 5% default rsd to 2%). A maintainer restarted on an OLD
checkpoint would hit streaming state-schema incompatibility, and
partitions written by the old code differ (float-sum rounding, wider
HLL error) from new backfills — silently breaking the documented
live==backfill exact-equality invariant across the boundary. The
upgrade procedure is therefore: start the new maintainer on a FRESH
checkpoint into a fresh live dir, and run one full-history
``backfill_rollup(..., replace_all=True)`` over every existing rollup
table so all persisted rows carry the new semantics. (A real
deployment would version the table format in a snapshot property;
here the compaction manifest carries ``format_version`` =
`ROLLUP_FORMAT_VERSION` and `_read_hwm` refuses a mismatched base
tier loudly instead of serving mixed-semantics rows.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .analytics import windowed_to_flat

#: Logical key of a rollup row. ``win_start`` doubles as the partition
#: column — at cluster scale one directory per window start means a
#: reader's time-range predicate prunes partitions at the source.
ROLLUP_KEY = ["win_start", "win_end", "event_type"]


def rollup_stats(
    events: DataFrame, size: str = "1 hour", p: int | None = None
) -> DataFrame:
    """Mode-agnostic rollup aggregation: per (tumbling window,
    event_type) counts, value sum, and a MERGEABLE deterministic HLL
    distinct-users sketch (operators/hll.py) with its estimate.

    Every persisted value must be identical whether a partition was
    written by the streaming maintainer (micro-batch merge order) or
    the batch backfill — and, since round 7, whether a tier was
    computed from facts or derived from a finer tier
    (`coarsen_rollup`). That rules out two tempting built-ins:

    * ``approx_count_distinct`` persists only the ESTIMATE — distinct
      counts don't sum, so an hour tier could never derive a day tier
      without rescanning the fact table (the recompute this module
      exists to avoid);
    * ``hll_sketch_agg`` (Datasketches) persists a mergeable sketch,
      but probe-measured on this build its sparse-mode estimates
      depend on how the data was partitioned/merged (500 distinct ->
      500 direct, 496 via union, 495 under repartition(13)) — silently
      breaking the live==backfill exact-equality invariant at exactly
      the group sizes fixtures exercise.

    The register-array sketch is a pure function of the user SET
    (element-wise max merge: commutative, associative, idempotent), so
    live, backfilled, and derived rows are byte-identical by
    construction, and ``n_users_approx`` is derived FROM the persisted
    registers (deterministic estimate, measured <=±5.5% worst-case
    from a few dozen users up; a window group of fewer than 10 users
    misses the ±10% serving bound when two of its users share a
    register — see `operators.hll`).

    ``sum_value`` aggregates EXACT integer cents for the same reason:
    double summation is order-dependent; integer cents sum identically
    in any order.

    Scale shape: two-phase aggregation — (window, event_type, bucket)
    max-rho partials, then (window, event_type) assembly. Map-side
    partial aggregation caps the first shuffle at min(distinct users
    in partition, 4096) rows per group per partition — the same wire
    shape as exact count_distinct's expansion with a hard 4096 cap it
    lacks; the second shuffle carries <=4096 rows per group total. In
    streaming mode this is a chained stateful aggregation (append
    mode, Spark >= 3.4 multi-stateful-operator support — probe-run on
    this build before adoption).

    ``p`` is the sketch precision (2^p registers; default
    ``operators.hll.DEFAULT_P``): the state/accuracy dial. Stage-1
    streaming state is keyed by (window, etype, bucket), so each unit
    of p halves/doubles the worst-case state rows AND the persisted
    sketch bytes at the cost of rse 1.04/sqrt(2^p). p is part of the
    TABLE FORMAT: every writer of one rollup table (maintainer,
    backfill, coarsen) must use the same p, or sketches stop merging
    and live==backfill equality breaks — change it only with a fresh
    checkpoint + full backfill, like any `ROLLUP_FORMAT_VERSION`
    boundary.
    """
    from ..operators import hll

    p = hll.DEFAULT_P if p is None else p
    cents = F.round(F.col("value") * 100).cast("long")
    stage1 = (
        events.withColumn("_b", hll.bucket_col("user_id", p=p))
        .withColumn("_r", hll.rho_col("user_id", p=p))
        .groupBy(F.window("ts", size), "event_type", "_b")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(cents).alias("_c"),
            F.max("_r").alias("_r"),
        )
    )
    agg = stage1.groupBy("window", "event_type").agg(
        F.sum("_n").alias("n_events"),
        F.sum("_c").alias("_cents"),
        hll.register_map_agg("_b", "_r").alias("_mp"),
    )
    flat = windowed_to_flat(agg).withColumn(
        "n_users_sketch", hll.map_to_registers("_mp", p=p)
    )
    return flat.select(
        "win_start",
        "win_end",
        "event_type",
        "n_events",
        (F.col("_cents") / 100.0).alias("sum_value"),
        hll.estimate_col("n_users_sketch", p=p).alias("n_users_approx"),
        "n_users_sketch",
    )


def sketch_p_of(df: DataFrame) -> int | None:
    """Derive the sketch precision a rollup frame was written with
    from the rows themselves: ``p = log2(size(n_users_sketch))`` —
    one bounded single-row action (``first`` on the size of one
    sketch). Rollup tables are self-describing on ``p`` since format
    v4: readers derive the precision instead of trusting callers (a
    wrong caller-supplied p used to be a clean-but-avoidable runtime
    error from the hll size guard). Returns None for an empty frame;
    raises on a non-power-of-two size (format drift, not a p issue).
    """
    row = df.select(F.size("n_users_sketch").alias("m")).first()
    if row is None:
        return None
    m = row["m"]
    if m is None or m < 1 or (m & (m - 1)):
        raise ValueError(
            f"rollup sketch column has array size {m}, not a power of "
            "two — the table's n_users_sketch column was not written "
            "by rollup_stats (format drift)"
        )
    return int(m).bit_length() - 1


def coarsen_rollup(
    finer: DataFrame, to_size: str = "1 day", p: int | None = None
) -> DataFrame:
    """Derive a coarser rollup tier from a finer one WITHOUT rescanning
    the fact table — the reason the persisted sketch is mergeable.

    ``n_events``/cents are exact sums of sums; the user sketch merges
    by element-wise register max, so the derived sketch (and therefore
    the derived ``n_users_approx``) is byte-identical to computing the
    coarse tier directly from facts — pinned as exact equality in
    tests, not an error bound.

    Every fine window must nest inside one coarse window; a straddling
    window cannot be split from summaries, so the bucketing expression
    raises loudly instead of mis-assigning it. Bucketing uses
    pmod-floor (not `div`) so pre-epoch win_starts floor correctly.

    Scale shape: one shuffle on (coarse window, event_type); groups
    merge <=(to_size/from_size) register arrays each via collect_list
    — bounded driver-free work (a day coarsens 24 hour-rows).

    ``p`` defaults to the precision the finer tier was WRITTEN with,
    derived from the rows themselves (`sketch_p_of` — one bounded
    action, so the default only works on a materialized batch tier).
    An explicit ``p`` keeps this a pure plan-builder: NO action runs
    at build time (a composed plan — rollup_stats piped straight into
    coarsen — would otherwise execute its whole upstream aggregation
    just to read one array size, and a streaming frame cannot be
    probed at all), and a wrong value still fails loudly at execution
    with observed-vs-expected register sizes (`hll._checked_registers`,
    the r8 guard, wraps both the merge and the estimate below)."""
    from ..operators import hll
    from .analytics import interval_ns

    if p is None:
        if finer.isStreaming:
            raise ValueError(
                "coarsen_rollup: cannot derive p from a streaming "
                "frame (probing needs an action); pass the precision "
                "the upstream rollup_stats was built with explicitly"
            )
        derived = sketch_p_of(finer)
        # empty frame: any p yields the same empty result; keep the
        # default so the output schema is still well-formed
        p = hll.DEFAULT_P if derived is None else derived
    to_secs = interval_ns(to_size) // 1_000_000_000
    bucket = F.col("win_start") - F.pmod(F.col("win_start"), F.lit(to_secs))
    end_bucket = (F.col("win_end") - 1) - F.pmod(
        F.col("win_end") - 1, F.lit(to_secs)
    )
    safe_bucket = F.when(bucket == end_bucket, bucket).otherwise(
        F.expr(
            f"raise_error(concat('coarsen_rollup: fine window [', win_start,"
            f" ', ', win_end, ') straddles a {to_secs}s boundary — it cannot"
            f" be split from summaries; coarsen only to multiples of the"
            f" fine window size'))"
        ).cast("long")
    )
    cents = F.round(F.col("sum_value") * 100).cast("long")
    agg = (
        finer.select(
            safe_bucket.alias("win_start"),
            "event_type",
            "n_events",
            cents.alias("_c"),
            "n_users_sketch",
        )
        .groupBy("win_start", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("_c").alias("_cents"),
            hll.merge_registers_agg("n_users_sketch", p=p).alias(
                "n_users_sketch"
            ),
        )
    )
    return agg.select(
        "win_start",
        (F.col("win_start") + to_secs).alias("win_end"),
        "event_type",
        "n_events",
        (F.col("_cents") / 100.0).alias("sum_value"),
        hll.estimate_col("n_users_sketch", p=p).alias("n_users_approx"),
        "n_users_sketch",
    )


def _local_checkpoint_path(checkpoint_dir: str) -> str | None:
    """``checkpoint_dir`` as a plain local-FS path, or None when it
    names a filesystem this module's local readers can't open
    (hdfs://, s3a://, ...). ``file:``-scheme URIs (``file:/x``,
    ``file:///x``) resolve to their path — before round 10 they fell
    through to ``os.path.isdir('file:...')`` (always False), silently
    failing the state_partitions guard open.

    Deliberately NOT urlparse: a plain local path is passed through
    byte-for-byte (urlparse would strip everything after '#' or '?' —
    legal filename characters — and misread a relative ``ckpt:v1/x``
    as a scheme), so only the two explicit URI shapes get special
    handling. The ``file://<authority>/x`` form (r10 advisor): RFC 8089
    makes the empty and ``localhost`` authorities local — both resolve
    to ``/x`` (the pre-r11 strip returned ``//localhost/x``, a real
    directory name that never exists, so the guard degraded without a
    trace); any OTHER authority is a remote host this module's local
    readers can't open — None, with a warning, same as hdfs://."""
    if checkpoint_dir.startswith("file:"):
        rest = checkpoint_dir[len("file:"):]
        if not rest.startswith("//"):
            return rest  # file:/x -> /x
        authority, _, path = rest[2:].partition("/")
        # hostnames compare case-insensitively (RFC 3986 §3.2.2)
        if authority.lower() in ("", "localhost"):
            # file:///x and file://localhost/x -> /x
            return "/" + path
        import warnings

        warnings.warn(
            f"checkpoint URI {checkpoint_dir!r} names remote file "
            f"authority {authority!r}: the local state_partitions "
            "guard cannot read it and will treat the checkpoint as "
            "unverifiable",
            stacklevel=3,
        )
        return None
    if "://" in checkpoint_dir:
        return None
    return checkpoint_dir


def _checkpointed_state_partitions(checkpoint_dir: str) -> int | None:
    """The shuffle-partition count a streaming checkpoint captured at
    first start, from the latest offsets-log entry's conf snapshot
    (line 2 of ``offsets/<batchId>``: the OffsetSeqMetadata JSON),
    or None when the checkpoint has no committed offsets yet. Used to
    fail loudly when a caller asks for a DIFFERENT ``state_partitions``
    on restart — Spark itself would silently keep the captured value."""
    import json
    import os

    offsets_dir = os.path.join(checkpoint_dir, "offsets")
    if not os.path.isdir(offsets_dir):
        return None
    batches = [n for n in os.listdir(offsets_dir) if n.isdigit()]
    if not batches:
        return None
    latest = os.path.join(offsets_dir, max(batches, key=int))
    try:
        with open(latest) as f:
            if f.readline().strip() != "v1":
                return None  # unknown log version: don't guess its layout
            meta = json.loads(f.readline())
        if not isinstance(meta, dict):
            return None
        conf = meta.get("conf")
        val = conf.get("spark.sql.shuffle.partitions") if isinstance(conf, dict) else None
        return None if val is None else int(val)
    except (OSError, ValueError):
        # a torn/in-flight offsets file is not this guard's problem;
        # the stream's own recovery raises with the real story
        return None


#: Open (window, event_type) groups the derived store count is sized
#: for: an hourly rollup over a handful of event types, with the
#: trailing window still open for the watermark's length.
DERIVED_OPEN_GROUPS = 8

#: Stage-1 state rows one state store should hold at most.
ROWS_PER_STATE_STORE = 4096

#: Wall floor for the derived store count. A store-count sweep on a
#: 32-core local-disk box (SCALE.md §3) measured a U-shaped wall: 4
#: stores cost +29% wall over the 6-8 plateau, because below it the
#: per-trigger drain loses task parallelism faster than thin-store
#: fsyncs get cheaper; above it commit I/O takes over (12 stores: +12%
#: wall at 2.8x the commit I/O). The knee moves with core count, so a
#: different machine class re-measures before trusting this floor.
MIN_DERIVED_STATE_STORES = 6


def derived_state_partitions(spark: SparkSession, p: int | None = None) -> int:
    """Stateful-shuffle width (state stores per stateful operator) for
    a NEW rollup checkpoint:

        min(max(ceil(DERIVED_OPEN_GROUPS * 2^p / ROWS_PER_STATE_STORE),
                MIN_DERIVED_STATE_STORES),
            spark.sql.shuffle.partitions)

    Stage-1 state holds at most ``open groups × 2^p`` rows (SCALE.md
    §2), and every micro-batch pays one delta-file commit per store per
    stateful operator whatever its row volume, so the rule takes as
    many stores as keep each under ``ROWS_PER_STATE_STORE`` rows, no
    fewer than the measured floor, and never more than the session's
    configured parallelism. At the default p=12 that is 8 stores.

    Small boxes: `get_spark` sets the session width to the core count,
    so with ``MIN_DERIVED_STATE_STORES`` cores or fewer the session
    cap sets the count (4 stores per operator on 4 cores) and each
    stateful stage runs in one task wave. A workload with many more
    open groups, or a checkpoint disk known to be fsync-contended
    (where 8 stores beat 6 on wall, SCALE.md §3), passes
    ``state_partitions=N`` to `start_rollup_maintenance` instead.
    """
    import math

    from ..operators import hll

    rows = DERIVED_OPEN_GROUPS * 2 ** (hll.DEFAULT_P if p is None else int(p))
    derived = math.ceil(rows / ROWS_PER_STATE_STORE)
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(max(derived, MIN_DERIVED_STATE_STORES), session)


def start_rollup_maintenance(
    events_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    size: str = "1 hour",
    watermark: str = "30 minutes",
    available_now: bool = True,
    p: int | None = None,
    state_partitions: int | None | str = "auto",
) -> StreamingQuery:
    """Start the incremental maintainer: append-mode windowed agg into
    a ``win_start``-partitioned parquet table.

    Append mode emits a window exactly once — when the watermark
    passes its end — so the sink only ever receives finalized rows;
    late events inside the watermark still merge before emission, and
    beyond it are dropped (the same bounded-state contract as every
    streaming agg here). Restarting on the same checkpoint resumes
    from committed offsets; epochs replayed after a crash overwrite
    their own metadata-log entry instead of appending twice.

    ``p`` trades sketch precision for streaming state (see
    `rollup_stats`): stage-1 state is keyed by (window, etype,
    bucket), so worst-case state rows per open (window, etype) are
    min(distinct users, 2^p). Changing p on an existing table needs a
    fresh checkpoint + full backfill at the new p — it is a format
    boundary, enforced by deriving the existing table's precision from
    its own rows at start (`_check_writer_p`; the state SCHEMA is the
    same at every p, so Spark's own checkpoint validation would pass a
    mismatched restart silently — r12 review).

    ``state_partitions`` sets the stateful shuffle width, and so the
    number of state stores, for THIS query. Each micro-batch pays one
    delta-file commit per store per stateful operator (two operators
    here) whatever its row volume, so a small drain wants few stores
    and a large ingest wants more. Spark captures the width into the
    checkpoint at first start and replays it on restart, so changing
    it needs a fresh checkpoint. It is applied by pinning the session
    conf around ``start()``; callers starting queries from several
    threads should serialize starts.

    * ``"auto"`` (default): a NEW local checkpoint starts at
      `derived_state_partitions` (8 stores at p=12, capped at the
      session width: 4 on a 4-core box); an EXISTING checkpoint
      resumes the width it captured, and a remote one, which cannot
      be inspected from here, keeps the session conf.
    * an int: size explicitly; a restart that disagrees with the
      captured width raises instead of being silently ignored.
    * ``None``: leave the session conf untouched.
    """
    resolved: int | None
    local_ckpt = _local_checkpoint_path(checkpoint_dir)
    if state_partitions == "auto":
        if local_ckpt is None:
            # remote checkpoint: can't tell new from existing from
            # here, and a wrong pin on an existing one would raise in
            # Spark's own restart validation for nothing — fall back
            # to the session conf (pre-r10 behavior)
            resolved = None
        elif _checkpointed_state_partitions(local_ckpt) is not None:
            # existing checkpoint: Spark replays the captured layout
            # regardless of conf; don't pin, don't second-guess
            resolved = None
        else:
            resolved = derived_state_partitions(events_stream.sparkSession, p=p)
    elif state_partitions is not None:
        # Like p, the stateful shuffle partitioning is captured into
        # the checkpoint at first start; on restart Spark silently
        # keeps the captured value and ignores the session conf.
        # Silent is the wrong failure mode for an explicit argument
        # (the p lesson): raise on a disagreeing restart instead of
        # letting the caller believe the resize happened.
        resolved = int(state_partitions)
        if local_ckpt is None:
            # the offsets-log reader is local-FS (like the rest of
            # this module's manifest machinery); on a remote
            # checkpoint the disagreement check can't run from here,
            # so say so instead of silently failing open
            import warnings

            warnings.warn(
                "start_rollup_maintenance: cannot verify state_partitions"
                f"={state_partitions} against the remote checkpoint "
                f"{checkpoint_dir!r}; if that checkpoint already captured "
                "a different value at first start, Spark will silently "
                "keep the captured one",
                stacklevel=2,
            )
            captured = None
        else:
            captured = _checkpointed_state_partitions(local_ckpt)
        if captured is not None and captured != resolved:
            raise ValueError(
                f"start_rollup_maintenance: state_partitions="
                f"{state_partitions} disagrees with the checkpoint at "
                f"{checkpoint_dir!r}, which captured "
                f"{captured} at first start — Spark would silently keep "
                f"{captured}. Resizing state needs a fresh checkpoint "
                "(and, for this append-mode table, a backfill), or drop "
                "the argument to resume at the captured layout"
            )
    else:
        resolved = None
    _check_writer_p(events_stream.sparkSession, table_dir, p)
    # claim the dir at this p BEFORE the stream starts: a restart at a
    # different p before the first window ever closes now hits the
    # stamp (r12 verdict item 4 — rows alone can't guard an empty sink)
    _stamp_writer_p(table_dir, p)
    roll = rollup_stats(
        events_stream.withWatermark("ts", watermark), size, p=p
    )
    writer = (
        roll.writeStream.format("parquet")
        .option("path", table_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("win_start")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    if resolved is None:
        return writer.start()
    spark = events_stream.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(resolved))
    try:
        return writer.start()
    finally:
        spark.conf.set(key, prev)


def _check_writer_p(
    spark: SparkSession, table_dir: str, p: int | None
) -> None:
    """Loud p guard for the two components that PERSIST rollup rows.

    Every reader/deriver (compact_rollup, read_rollup_tiered,
    coarsen_rollup) already treats a precision mismatch as a format
    boundary, but the writers were unguarded, and the streaming
    state-schema is NOT a backstop: stage-1 state rows are
    (window, event_type, _b int, _n long, _c long, _r int) at every p,
    so a maintainer restarted at a different p passes Spark's own
    state validation and silently merges old-p buckets with new-p
    rhos (r12 review). Two layers, each covering the other's gap:

    * the WRITER STAMP (`_read_writer_p`, local dirs) — declared at
      the moment a writer first claims the dir, so a restart at a new
      p before the FIRST window ever closed is caught (r12 verdict
      item 4: the row-derived form alone slipped there, because an
      empty sink leaves no rows to derive from);
    * the ROWS themselves (`sketch_p_of`, one bounded limit-1 action
      on a local-or-remote path — `spark.read` handles either) — the
      backstop for pre-stamp tables, remote URIs, and a stamp that
      somehow diverged from the data.

    Only a genuinely MISSING table path reads as "first start"; any
    other analysis failure (e.g. ``n_users_sketch`` missing/renamed —
    the exact format-drift class this guard targets) re-raises instead
    of silently disabling the check (r12 advisor: a blanket
    AnalysisException catch failed open)."""
    from pyspark.errors import AnalysisException

    from ..operators import hll

    want = hll.DEFAULT_P if p is None else int(p)
    stamped = _read_writer_p(table_dir)
    if stamped is not None and stamped != want:
        raise ValueError(
            f"rollup writer: requested sketch precision p={want} but the "
            f"dir at {table_dir!r} was claimed by a writer at p={stamped} "
            "(writer stamp); p is part of the table format — changing it "
            "needs a fresh checkpoint + full backfill(replace_all=True) "
            "+ migrate_rollup (module docstring, 'Version boundary')"
        )
    try:
        existing = sketch_p_of(_read_table(spark, table_dir))
    except AnalysisException as e:
        klass = getattr(e, "getCondition", getattr(e, "getErrorClass", None))
        name = klass() if callable(klass) else None
        if name == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(e):
            return  # no table dir yet: first start
        raise  # format drift / storage error: failing open hides it
    if existing is not None and existing != want:
        raise ValueError(
            f"rollup writer: requested sketch precision p={want} but the "
            f"table at {table_dir!r} holds sketches written at "
            f"p={existing}; p is part of the table format — changing it "
            "needs a fresh checkpoint + full backfill(replace_all=True) "
            "+ migrate_rollup (module docstring, 'Version boundary')"
        )


def backfill_rollup(
    events_batch: DataFrame,
    table_dir: str,
    size: str = "1 hour",
    upto_epoch: int | None = None,
    replace_all: bool = False,
    p: int | None = None,
) -> None:
    """Batch backfill of the rollup: same aggregation, written with
    DYNAMIC partition overwrite — only the ``win_start`` partitions
    this run produces are replaced, everything else is untouched, so
    re-running a backfill (after an upstream fix, or because the
    previous run died halfway) converges instead of duplicating.

    One retraction caveat dynamic overwrite cannot cover: if a
    correction removes EVERY event in a window, the recompute produces
    no row for it and the stale partition stays on disk. When
    retractions like that are possible, pass ``replace_all=True`` —
    a static overwrite that rewrites the whole table (or re-run with
    the full history, which produces every surviving partition).

    ``upto_epoch`` bounds the backfill to windows that end at or
    before it — the handoff point to the live maintainer.

    An incremental backfill (``replace_all=False``) into a table whose
    rows carry a different sketch precision raises (`_check_writer_p`);
    ``replace_all=True`` is exempt — the static overwrite replaces
    every partition, which is exactly the sanctioned way to move a
    table across the p format boundary.
    """
    if not replace_all:
        _check_writer_p(events_batch.sparkSession, table_dir, p)
    roll = rollup_stats(events_batch, size, p=p)
    if upto_epoch is not None:
        roll = roll.filter(F.col("win_end") <= F.lit(upto_epoch))
    (
        roll.write.mode("overwrite")
        .option(
            "partitionOverwriteMode", "static" if replace_all else "dynamic"
        )
        .partitionBy("win_start")
        .parquet(table_dir)
    )
    # stamp AFTER the write: a ``replace_all`` static overwrite clears
    # the whole table dir (including a previous stamp — which is
    # correct: crossing the p boundary re-claims the dir at the new p)
    _stamp_writer_p(table_dir, p)


def compact_rollup(
    spark: SparkSession,
    live_dir: str,
    base_dir: str,
    max_records_per_file: int = 1_000_000,
    writers_per_window: int = 1,
    p: int | None = None,
) -> int | None:
    """Tiered compaction — the operational answer to the streaming
    sink's small-files problem (every trigger appends a file per
    partition; a month of 5-minute triggers is ~8k files per window).

    Copies live windows ABOVE the previous high-water mark into
    ``base_dir`` (dynamic partition overwrite, capped file sizes — so
    each pass is incremental and a crashed/repeated pass converges),
    then advances the mark. Live files are never touched: the sink's
    ``_spark_metadata`` log stays intact and the maintainer keeps
    appending. Readers use `read_rollup_tiered` (compacted base +
    live tail above the mark).

    The mark is a tiny JSON manifest written atomically next to the
    base table — ADVISORY only: `read_rollup_tiered` derives the
    effective mark from base CONTENT, so a crash (or a concurrent
    reader) between the base overwrite and the manifest advance can
    never double-serve a window. The manifest is the local stand-in
    for a table-format snapshot pointer (Iceberg/Delta) on a real
    cluster; here it marks that a base tier exists and gives the next
    compaction its incremental lower bound. Returns the new mark, or
    the old one when nothing new was compacted.

    Since format v4 the manifest also records the sketch precision
    ``p`` — derived from the live rows being compacted (`sketch_p_of`),
    never trusted from a caller: the optional ``p`` argument is an
    assertion only, and a value that disagrees with the data (or with
    the precision an existing base manifest records) raises before
    anything is written.
    """
    manifest = _read_manifest(base_dir)
    prev = None if manifest is None else int(manifest["win_start_hwm"])
    live = _read_table(spark, live_dir)
    if prev is not None:
        live = live.filter(F.col("win_start") > prev)
    hwm = live.agg(F.max("win_start")).first()[0]
    if hwm is None:
        return prev
    live_p = sketch_p_of(live)  # non-None: hwm above proves rows exist
    if p is not None and p != live_p:
        raise ValueError(
            f"compact_rollup: explicit p={p} disagrees with the live "
            f"table's own sketches (written at p={live_p}); p is "
            "derived from the table since format v4 — drop the argument"
        )
    prev_p = None if manifest is None else manifest.get("p")
    if prev_p is not None and prev_p != live_p:
        raise ValueError(
            f"compact_rollup: live table sketches carry p={live_p} but "
            f"the base tier at {base_dir} was compacted at p={prev_p}; "
            "mixing precisions in one table breaks sketch merging — "
            "this is a format boundary (fresh checkpoint + full "
            "backfill + migrate_rollup, see the module docstring)"
        )
    # Cap the written rows at the hwm SNAPSHOT: the write action below
    # re-lists the live dir, so if the maintainer commits a newly
    # closed window between the two actions, an uncapped write would
    # compact it into base while the recorded mark stays below it —
    # the same double-serve hazard the content-derived mark guards
    # against, closed here at the source so base never outruns the
    # value this pass returns.
    live = live.filter(F.col("win_start") <= F.lit(int(hwm)))
    # Hash-shuffle on the partition column so each win_start directory
    # is written by exactly one task → ONE file per partition (modulo
    # the max_records_per_file split). Without it, every read task that
    # touches a window emits its own file and the "compacted" base
    # inherits a fraction of the small-files problem it exists to fix
    # (measured: ~4 files/partition → 1). A window whose row count
    # (high-cardinality group column) is too hot for one writer can be
    # split across ``writers_per_window`` tasks — the split key is a
    # hash of the in-partition group column, so the pass still
    # converges to <=writers_per_window files per partition instead of
    # one file per reading task (maxRecordsPerFile splits FILES, not
    # work; this splits the work).
    if writers_per_window > 1:
        dist = live.repartition(
            F.col("win_start"),
            F.pmod(F.xxhash64("event_type"), F.lit(writers_per_window)),
        )
    else:
        dist = live.repartition("win_start")
    (
        dist.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("win_start")
        .parquet(base_dir)
    )
    _write_hwm(base_dir, int(hwm), live_p)
    return int(hwm)


def read_rollup_tiered(
    spark: SparkSession, live_dir: str, base_dir: str, p: int | None = None
) -> DataFrame:
    """Serving read over a compacted table: the base holds everything
    up to the high-water mark in few, large, partition-pruned files;
    only the post-mark tail is read from the maintainer's small live
    files.

    Self-healing against a lagging manifest: if compaction crashed
    between the base overwrite and the mark advance (or this read
    races a running compaction), base already holds windows above the
    manifest mark — serving the live tail from the stale mark would
    return those windows twice, in the exact component whose contract
    is replay-safety. And the converse hazard (round-6 advisor): a
    crash mid job-commit of the dynamic overwrite can leave base with
    a LATER window present and an earlier one missing, so any healed
    single mark (e.g. max(base.win_start)) would skip past the gap
    and silently under-serve the missing window. The tail is therefore
    derived PER WINDOW, not by a mark: live windows above the manifest
    mark, left-anti-joined on ``win_start`` against the windows base
    actually holds — every window is served exactly once whether base
    ran ahead, fell behind, or tore. The anti-join's build side is the
    distinct partition values of the few large compacted files
    (column-pruned to zero data columns, broadcast-weight), and unlike
    the previous max()-heal it costs no extra driver action. The
    manifest alone decides only whether a base tier exists at all
    (when it is absent, live is the complete table: compaction never
    deletes live files, so base is always a subset of live) — and
    carries the format-version guard.

    Torn PARTIAL partitions (round-7 advisor): with
    ``writers_per_window > 1`` or ``maxRecordsPerFile`` splits a
    window spans several base files, and a crash mid job-commit can
    leave a partition directory that LISTS the win_start but holds
    only some of its rows — window presence alone would then suppress
    the complete live copy and serve the partial silently. Torn
    windows are always ABOVE the committed manifest mark (compaction
    only writes ``> prev`` and advances the mark strictly after a
    successful write), so for base windows above the mark this read
    trusts base only where its per-window row count equals live's
    (compaction copies rows 1:1, so any shortfall means a torn
    commit); mismatches are served from live, whole-missing windows
    fall out the same way (no count row). The compare aggregates only
    the ``> mark`` tail on both sides — partition-pruned to the few
    windows one compaction pass could have torn, not the table. And
    the heal join is priced for the rare case it exists for
    (round-8 advisor): in the steady state base holds nothing above
    the committed mark, so one partition-pruned existence probe
    (``base_tail.limit(1)``) short-circuits straight to the plain
    committed ∪ live-tail union — the count-compare join is only
    built when a torn/racing compaction actually left base content
    above the mark.

    ``p`` is an assertion only: the sketch precision is recorded in
    the v4 manifest (and derivable from the rows via `sketch_p_of`);
    an explicit value that disagrees with the manifest raises before
    any read is built."""
    manifest = _read_manifest(base_dir)
    if manifest is None:
        return _read_table(spark, live_dir)
    stored_p = manifest.get("p")
    if p is not None and stored_p is not None and p != stored_p:
        raise ValueError(
            f"read_rollup_tiered: explicit p={p} disagrees with the "
            f"base-tier manifest at {base_dir} (written at "
            f"p={stored_p}); p is derived from the table since format "
            "v4 — drop the argument"
        )
    hwm = int(manifest["win_start_hwm"])
    base = _read_table(spark, base_dir)
    live = _read_table(spark, live_dir)
    committed = base.filter(F.col("win_start") <= hwm)
    base_tail = base.filter(F.col("win_start") > hwm)
    live_tail = live.filter(F.col("win_start") > hwm)
    if base_tail.limit(1).count() == 0:
        return committed.unionByName(live_tail)
    complete = (
        base_tail.groupBy("win_start")
        .agg(F.count(F.lit(1)).alias("__base_n"))
        .join(
            live_tail.groupBy("win_start").agg(
                F.count(F.lit(1)).alias("__live_n")
            ),
            on="win_start",
        )
        .filter(F.col("__base_n") == F.col("__live_n"))
        .select("win_start")
    )
    tail = base_tail.join(complete, on="win_start", how="left_semi").unionByName(
        live_tail.join(complete, on="win_start", how="left_anti")
    )
    return committed.unionByName(tail)


_HWM_FILE = "_rollup_hwm.json"  # leading underscore: invisible to scans

#: Writer-side precision stamp, written into the LIVE table dir at
#: maintainer/backfill start (r12 verdict item 4). The row-derived
#: guard (`sketch_p_of`) has one structural gap: a maintainer
#: restarted at a new p before the FIRST window ever closed finds no
#: rows to derive from and slips through. The stamp closes it — p is
#: declared the moment a writer claims the dir, not only once data
#: lands. Leading underscore: invisible to parquet scans.
_WRITER_FILE = "_rollup_writer.json"

#: Persisted-row semantics version (module docstring, "Version
#: boundary"). 4 = identical row bytes to 3, but the manifest is
#: self-describing on the sketch precision ``p`` (round 9 — readers
#: derive p instead of trusting callers; v3→v4 is manifest-only, see
#: `upgrade_rollup_v3_to_v4`); 3 = mergeable deterministic-HLL
#: ``n_users_sketch`` column + sketch-derived ``n_users_approx``
#: (round 7); 2 = exact-integer-cents sums + 2%-rsd HLL++ estimate,
#: no sketch (round 5); 1 = the pre-round-5 float-sum / 5%-rsd
#: format, which has no manifest version key at all. Bump whenever
#: what lands on disk changes meaning, so a reader on a base tier
#: written by other-version code fails loudly instead of silently
#: mixing semantics across the boundary. Executable upgrade paths:
#: `upgrade_rollup_v3_to_v4` (manifest-only) and `migrate_rollup`
#: (full rebuild, any older boundary).
ROLLUP_FORMAT_VERSION = 4


def _atomic_write_json(dir_path: str, name: str, payload: dict) -> None:
    """Write ``payload`` as ``dir_path/name`` via a per-WRITER unique
    tmp + os.replace. mkstemp (not a pid-suffixed fixed name) because
    two threads sharing one SparkSession share a pid: a pid-based tmp
    only de-conflicts cross-process writers, and two same-process
    compaction passes interleaving on one tmp path could publish torn
    JSON (r12 advisor). mkstemp is unique per call, so each replace is
    atomic and last-writer-wins whole-file."""
    import json
    import os
    import tempfile

    os.makedirs(dir_path, exist_ok=True)
    fd, tmp = tempfile.mkstemp(prefix=f".{name}.", suffix=".tmp", dir=dir_path)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, os.path.join(dir_path, name))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def _write_hwm(base_dir: str, hwm: int, p: int) -> None:
    _atomic_write_json(
        base_dir,
        _HWM_FILE,
        {
            "win_start_hwm": hwm,
            "format_version": ROLLUP_FORMAT_VERSION,
            "p": int(p),
        },
    )


def _stamp_writer_p(table_dir: str, p: int | None) -> None:
    """Declare the sketch precision a writer is about to use for
    ``table_dir`` (see `_WRITER_FILE`). Local-FS only, like the rest of
    this module's manifest machinery: on a remote URI the stamp is
    skipped and the row-derived guard remains the (gapped-at-first-
    window) backstop — the same graceful degradation as the
    state_partitions checkpoint guard."""
    from ..operators import hll

    local = _local_checkpoint_path(table_dir)
    if local is None:
        return
    _atomic_write_json(
        local,
        _WRITER_FILE,
        {
            "p": hll.DEFAULT_P if p is None else int(p),
            "format_version": ROLLUP_FORMAT_VERSION,
        },
    )


def _read_writer_p(table_dir: str) -> int | None:
    """The precision a previous writer declared for ``table_dir``, or
    None when no stamp exists (pre-r13 table, remote URI, or a dir no
    writer has claimed yet). A stamp from another format version raises
    like `_read_manifest` — mixing semantics across the boundary is the
    failure this machinery exists to prevent."""
    import json
    import os

    local = _local_checkpoint_path(table_dir)
    if local is None:
        return None
    path = os.path.join(local, _WRITER_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        stamp = json.load(f)
    found = stamp.get("format_version", 1)
    if found != ROLLUP_FORMAT_VERSION:
        raise ValueError(
            f"rollup live dir at {table_dir} was claimed by a writer at "
            f"format version {found}, this code writes version "
            f"{ROLLUP_FORMAT_VERSION}; writing across the boundary would "
            "mix aggregation semantics (module docstring, 'Version "
            "boundary')"
        )
    return int(stamp["p"])


def _read_manifest(base_dir: str) -> dict | None:
    """Version-guarded manifest read: None when no base tier exists,
    the manifest dict (``win_start_hwm``, ``format_version``, ``p``)
    when it does, a loud error when it was written by other-version
    code."""
    import json
    import os

    path = os.path.join(base_dir, _HWM_FILE)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        manifest = json.load(f)
    found = manifest.get("format_version", 1)
    if found != ROLLUP_FORMAT_VERSION:
        hint = (
            "Upgrade: the v3→v4 boundary is manifest-only (row bytes "
            "identical) — run upgrade_rollup_v3_to_v4(spark, base_dir)."
            if found == 3
            else "Upgrade: fresh maintainer checkpoint + full-history "
            "backfill_rollup(replace_all=True), then delete the old "
            "base tier (see the module docstring, 'Version boundary')."
        )
        raise ValueError(
            f"rollup base tier at {base_dir} was written with format "
            f"version {found}, this code reads/writes version "
            f"{ROLLUP_FORMAT_VERSION}; serving or compacting across the "
            f"boundary would mix aggregation semantics. {hint}"
        )
    return manifest


def _read_hwm(base_dir: str) -> int | None:
    manifest = _read_manifest(base_dir)
    return None if manifest is None else int(manifest["win_start_hwm"])


def rollup_table_p(base_dir: str) -> int | None:
    """The sketch precision a compacted rollup table records in its
    v4 manifest — the API answer to "what p was this table written
    at", so no consumer has to carry p out of band. None when no base
    tier exists yet (derive from the live rows via `sketch_p_of`)."""
    manifest = _read_manifest(base_dir)
    return None if manifest is None else manifest.get("p")


def upgrade_rollup_v3_to_v4(spark: SparkSession, base_dir: str) -> int:
    """Executable v3→v4 upgrade. The v4 boundary changed ONLY the
    manifest (it now records the sketch precision ``p``); every row
    byte is identical, so the upgrade derives p from the base tier's
    own sketches and restamps the manifest in place — no rewrite, no
    fresh checkpoint. Any other version gap still needs the full
    `migrate_rollup` rebuild. Returns the recorded p."""
    import json
    import os

    path = os.path.join(base_dir, _HWM_FILE)
    if not os.path.exists(path):
        raise ValueError(f"no rollup manifest at {base_dir}")
    with open(path) as f:
        manifest = json.load(f)
    found = manifest.get("format_version", 1)
    if found == ROLLUP_FORMAT_VERSION:
        return int(manifest["p"])  # already v4 — idempotent no-op
    if found != 3:
        raise ValueError(
            f"upgrade_rollup_v3_to_v4: base tier at {base_dir} is format "
            f"version {found}; only the 3→4 boundary is manifest-only — "
            "older formats changed row semantics and need migrate_rollup"
        )
    derived = sketch_p_of(_read_table(spark, base_dir))
    if derived is None:
        raise ValueError(
            f"upgrade_rollup_v3_to_v4: base tier at {base_dir} has a "
            "manifest but no rows — delete the stale manifest instead"
        )
    _write_hwm(base_dir, int(manifest["win_start_hwm"]), p=derived)
    return derived


#: The persisted rollup row schema (constant across p — precision only
#: changes the register-array LENGTH, not the type). Used to serve a
#: metadata-only sink as 0 rows: the first availableNow pass of a
#: short-history source can close no window, leaving the live dir with
#: a _spark_metadata log and no data files — a documented-normal state
#: (cmd_rollup's count_table) that spark.read.parquet alone answers
#: with an opaque UNABLE_TO_INFER_SCHEMA traceback (r12 review).
ROLLUP_SCHEMA = (
    "win_start long, win_end long, event_type string, n_events long, "
    "sum_value double, n_users_approx long, n_users_sketch array<tinyint>"
)


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        # metadata-only sink (dir EXISTS, no committed data files):
        # that is 0 rows, not a traceback. A missing/typo'd path still
        # raises — returning empty there would fail open. Probe-
        # measured on this build the state arrives under TWO error
        # shapes: an empty/stamp-only dir raises UNABLE_TO_INFER_SCHEMA
        # (bracketed error class in the message), but the REAL
        # zero-windows-closed sink (dir with a _spark_metadata log
        # listing no committed files) raises the unbracketed legacy
        # form "Unable to infer schema for Parquet at ." — the r12 fix
        # matched only the first and missed the exact documented-normal
        # state it was written for (r13 review).
        klass = getattr(e, "getCondition", getattr(e, "getErrorClass", None))
        name = klass() if callable(klass) else None
        if (
            name == "UNABLE_TO_INFER_SCHEMA"
            or "unable to infer schema" in str(e).lower()
        ):
            return spark.createDataFrame([], schema=ROLLUP_SCHEMA)
        raise
    # partition-dir values infer as int; normalize to long so live and
    # backfill frames union/join without implicit casts
    return df.withColumn("win_start", F.col("win_start").cast("long"))


def migrate_rollup(
    events_batch: DataFrame,
    new_live_dir: str,
    old_base_dir: str | None = None,
    old_live_dir: str | None = None,
    size: str = "1 hour",
) -> None:
    """Executable form of the module docstring's "Version boundary"
    upgrade procedure — so recovery from a `_read_hwm` version-guard
    failure is one call, not prose:

    1. full-history backfill into a FRESH live dir with the current
       format (``replace_all`` static overwrite — every partition
       carries the new semantics);
    2. delete the old base tier (stale manifest + old-format files) —
       the next `compact_rollup` against the new live dir rebuilds it
       from scratch under the current format version;
    3. optionally delete the old live dir (its ``_spark_metadata``
       transaction log refers to old-format files and must never be
       unioned with new-format rows).

    The caller must then start the maintainer on ``new_live_dir`` with
    a FRESH checkpoint — resuming the old checkpoint would hit
    streaming state-schema incompatibility by design. A fresh dir
    (rather than overwriting the old live dir in place) because the
    file sink's ``_spark_metadata`` log would shadow batch-written
    files on read.

    The old-tier deletes are load-bearing (a surviving old-format live
    dir stays silently readable with old semantics — live dirs carry
    no manifest guard), so they run ONLY on local paths and propagate
    real failures: on a remote URI this raises up front, before the
    backfill, telling the operator to delete via their storage tooling
    — a silent rmtree no-op there would report a successful migration
    that left the old table serving (r12 review)."""
    import os
    import shutil

    old_dirs = []
    for d in (old_base_dir, old_live_dir):
        if d is None:
            continue
        local = _local_checkpoint_path(d)
        if local is None:
            raise ValueError(
                f"migrate_rollup: old tier {d!r} is a remote URI — this "
                "local-FS helper cannot delete it, and leaving it would "
                "keep an old-format table silently serving. Delete it "
                "with your storage tooling, then re-run with that "
                "argument omitted"
            )
        # The in-place reading (new == old) is the intuitive misuse,
        # and it would be catastrophic: the backfill writes the new
        # table INTO the dir, then the old-tier cleanup rmtree's it —
        # a successful-looking migration with the whole table gone
        # (r15 review). realpath so symlinked spellings can't sneak
        # past the guard.
        new_local = _local_checkpoint_path(new_live_dir)
        if new_local is not None and os.path.realpath(local) == os.path.realpath(
            new_local
        ):
            raise ValueError(
                f"migrate_rollup: new_live_dir {new_live_dir!r} is the "
                f"same path as old tier {d!r} — the migration must land "
                "in a FRESH dir (the old dir's _spark_metadata log would "
                "shadow batch-written files, and the old-tier cleanup "
                "would delete the freshly migrated table)"
            )
        old_dirs.append(local)

    backfill_rollup(events_batch, new_live_dir, size=size, replace_all=True)
    for local in old_dirs:
        if os.path.exists(local):
            shutil.rmtree(local)


def read_rollup(
    spark: SparkSession, live_dir: str, backfill_dir: str | None = None
) -> DataFrame:
    """Serving read: the live table (its ``_spark_metadata`` log hides
    uncommitted files) unioned with backfill partitions for keys the
    live maintainer hasn't produced — live wins on collision via one
    left-anti join on the rollup key (broadcast-eligible: the key
    frame is 3 narrow columns)."""
    live = _read_table(spark, live_dir)
    if backfill_dir is None:
        return live
    backfill = _read_table(spark, backfill_dir)
    live_keys = live.select(*ROLLUP_KEY)
    # eqNullSafe, not a key-list join: event_type is nullable and a
    # NULL group is a legitimate rollup row — a plain equi-anti-join
    # would keep the backfill's NULL-key row next to the live one
    cond = None
    for k in ROLLUP_KEY:
        c = backfill[k].eqNullSafe(live_keys[k])
        cond = c if cond is None else (cond & c)
    only_backfill = backfill.join(live_keys, on=cond, how="left_anti")
    return live.unionByName(only_backfill)
