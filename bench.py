#!/usr/bin/env python
"""Headline benchmark — runs the engine's representative query mix at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints TWO JSON lines — a detail line,
then a compact headline line LAST:

    {"metric": "headline_query_mix_detail",
     "spread": {"q1": {min,med,max}, ...},
     "phases": {<lifecycle legs>: {setup,maintain,compact,serve,
                                   commit_io_s}},
     "roles": {<lifecycle legs>: "<what this leg represents>"}}
    {"metric": "headline_query_mix_total", "value": <total sec>,
     "unit": "sec", "queries": {"q1": <median sec>, ...}, "sf": 0.1,
     "timed_passes": 3, "commit_io_s": {<lifecycle legs>: sec},
     "load_1m": <1-min load at start>, "comparable": <load < gate>}

The split exists because the driver's wrapper captures only the last
~2000 characters of stdout: r9's single line grew to ~2.9 KB (spread +
dual-phase blocks) and the driver's own artifact refresh truncated it
to unparseable ("parsed": null). The final line is now guaranteed
<= 2000 chars (asserted) and self-sufficient for the pin contract;
scripts/check_bench_pins.py's merge_bench_lines joins both lines into
one BENCH_<tag>.json object so a committed artifact keeps full
fidelity.

Recorded times are the median of 3 back-to-back timed passes after 2
warm passes (r8: two idle same-head single-pass runs differed 20%);
``spread`` carries each query's min/med/max so a reader sees the
achieved noise floor, ``comparable`` says whether the load gate was
met, and scripts/check_bench_pins.py reads the medians against
BENCH_BASELINE.json's pinned bars. ``commit_io_s`` is the summed
state-store ``commitTimeMs`` of each lifecycle leg's maintenance
drain, from the pass whose wall time is the recorded median — the
fsync-I/O axis r9 root-caused the maintain phase's cross-process
bimodality to (REHEARSAL.md: wall medians 7.4/10.5 s are machine
fsync-latency modes, not code): a wall regression WITHOUT a matching
commit-I/O move is a code regression; one WITH it is the machine.

Query mix rationale: one per engine pillar — scan+agg (TPC-H Q1 shape),
multi-way join, rollup, window ranking, top-k sort, event-time windows,
sessionization, and the LLM ops (exact dedup, MinHash+LSH near-dup as
the scale path, cosine top-k, text quality). Execution via the noop
sink: full computation, zero driver materialization — what a cluster
run would measure.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from video_stream_processor_spark.io import load_table  # noqa: E402
from video_stream_processor_spark.llm.dedup import (  # noqa: E402
    exact_dedup_groups,
    minhash_near_dup_pairs,
)
from video_stream_processor_spark.llm.similarity import (  # noqa: E402
    cosine_topk,
    pq_topk_rerank,
    pq_train,
)
from video_stream_processor_spark.plans import all_specs  # noqa: E402
from video_stream_processor_spark.plans.relational import (  # noqa: E402
    scan_filter_project,
)
from video_stream_processor_spark.session import get_spark  # noqa: E402
from video_stream_processor_spark.streaming.analytics import (  # noqa: E402
    session_stats,
    tumbling_stats,
)


# The mix keeps BENCH_r01's 13 query names/computations verbatim so
# per-query times stay comparable round over round (BENCH_BASELINE.json
# pins the r01 bar). Queries the ≤50-entry registry consolidation
# merged or unregistered run here via their underlying builders.
def _agg_rollup(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def _win_ranking(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


def _llm_text_quality_pinned(spark, sf_dir):
    """The r01-pinned computation for the ``llm_text_quality`` bar:
    the per-lang quality profile WITHOUT the BPE-budget and unigram-LM
    legs that the registered query absorbed in later rounds. The
    registry consolidation changed what the registered name computes;
    the pin only means something against the same computation, so the
    pinned name runs the pinned plan and the enriched registered query
    is timed separately as ``llm_text_quality_full`` (new entry, no
    pin)."""
    from video_stream_processor_spark.llm.text import quality_columns

    q = quality_columns()
    per_doc = load_table(spark, sf_dir, "documents").select(
        "lang", *[v.alias(k) for k, v in q.items()]
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.round(F.avg("n_distinct_tokens"), 6).alias("avg_distinct_tokens"),
        F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
        F.round(F.avg("avg_token_len"), 6).alias("avg_token_len"),
    )


EXTRA_BUILDERS = {
    "scan_filter_project": scan_filter_project,
    "agg_rollup": _agg_rollup,
    "win_ranking": _win_ranking,
    "stream_tumbling_1h": lambda s, d: tumbling_stats(
        load_table(s, d, "events"), size="1 hour"
    ),
    # r01-pinned single-leg sessionization: the registered query grew
    # to a 3-leg union (session_window + sliced escape + closed-twin)
    # in r7, which broke the pin contract for one round — the pinned
    # name runs the pinned computation again; the 3-leg registry form
    # is timed separately as stream_session_30m_full (no pin).
    "stream_session_30m": lambda s, d: session_stats(
        load_table(s, d, "events"), gap="30 minutes"
    ),
    "llm_dedup_exact": lambda s, d: exact_dedup_groups(
        load_table(s, d, "documents")
    ),
    "llm_minhash_pairs": lambda s, d: minhash_near_dup_pairs(
        load_table(s, d, "documents"), threshold=0.5
    ),
    "llm_text_quality": _llm_text_quality_pinned,
    # r01-pinned single-query form; the registered query is now the
    # batched suite (timed separately below).
    "llm_cosine_topk": lambda s, d: cosine_topk(
        load_table(s, d, "embeddings"), query_vec_id=0, k=10
    ),
    # steady-state PQ serve: trainer memoizes per session and the code
    # table is memo-materialized (at scale it is a WRITTEN table), so
    # this times the ADC shortlist + exact re-rank — the per-query cost
    "llm_pq_rerank": lambda s, d: _pq_rerank_served(s, d),
    # r5: round-4 surfaces enter the bench mix (VERDICT r4 task 2).
    # Re-pinned _v2 in r8: v1's bar (6.46 s, first-set r5) measured the
    # estimate-only rollup format; r7's format v3 added the mergeable
    # HLL register sketch (two-phase stateful agg + per-window heal in
    # the serving read) — a different workload, so it gets its own name
    # and its first idle number sets the v2 bar.
    "rollup_maintain_serve_v2": lambda s, d: _rollup_maintain_serve(s, d),
    # r9: the same lifecycle with the stateful shuffle SIZED to the
    # drain (8 state stores instead of the session's 32). Probe-
    # measured at sf0.1, state-store delta-commit I/O is ~85% of
    # addBatch under the default, and its fsync jitter is what made
    # the v2 leg's cross-run timings bimodal; sizing cuts summed
    # commit I/O ~20x and the wall ~30%. The pinned v2 leg is
    # untouched (artifact-honesty rule); this twin quantifies the
    # state_partitions dial in the artifact of record.
    "rollup_maintain_serve_v2_sized": lambda s, d: _rollup_maintain_serve(
        s, d, state_partitions=8
    ),
    # the lifecycle at the shipped default, state_partitions="auto"
    # (fresh checkpoint every call, so each pass derives the store
    # count like a first start would: 8 stores at p=12, capped at the
    # session width). The pinned v2 leg keeps explicit None (session
    # conf) for bar comparability.
    "rollup_maintain_serve_v2_auto": lambda s, d: _rollup_maintain_serve(
        s, d, state_partitions="auto"
    ),
    "zorder_write_pruned_read": lambda s, d: _zorder_write_pruned_read(s, d),
}

#: What each rollup lifecycle leg REPRESENTS, stamped into the bench
#: detail line (r10 verdict nit: once the library default became
#: state_partitions="auto", nothing in the artifact said the pinned v2
#: leg is the session-conf CONTROL — a reader skimming BENCH_r10.json
#: could take its 11.4 s as the product number). The pinned leg keeps
#: running None for bar continuity; the artifact now says so itself,
#: and scripts/check_bench_pins.py prints the role next to each leg's
#: wall/commit-I/O line.
LEG_ROLES = {
    "rollup_maintain_serve_v2": (
        "session-conf control (state_partitions=None, 32 stores; "
        "pinned bar, NOT the shipped default)"
    ),
    "rollup_maintain_serve_v2_sized": (
        "hand-sized twin (state_partitions=8; quantifies the dial)"
    ),
    "rollup_maintain_serve_v2_auto": (
        "shipped default (state_partitions='auto': derived_state_partitions, "
        "8 stores per stateful operator at p=12, capped at the session "
        "width)"
    ),
}


_ROLLUP_SRC: dict[str, str] = {}
_TMP_ROOT: list[str] = []


def _tmp_root() -> str:
    """Per-PROCESS private scratch root (mkdtemp): two concurrent bench
    invocations — or a stale dir owned by another process — must not
    rmtree each other's staging/checkpoint dirs mid-run. Removed at
    exit; the per-session source memo lives inside it."""
    if not _TMP_ROOT:
        import atexit

        root = tempfile.mkdtemp(prefix="vsp_bench_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _TMP_ROOT.append(root)
    return _TMP_ROOT[0]


def _rollup_events_src(s, d: str) -> str:
    """Stage events as a multi-file parquet dir once per (session, sf):
    the streaming file source replays one file per trigger, so the
    watermark advances across micro-batches and append-mode windows
    actually close (a single-file source would emit nothing). At scale
    events already land as a multi-file table — the staging is fixture
    adaptation, not part of the measured pipeline, hence memoized
    outside the timed region (the warm passes populate it)."""
    if d not in _ROLLUP_SRC:
        # name by a digest of the FULL path: two sf dirs sharing a
        # basename must not silently share (and restage) one directory
        tag = hashlib.sha256(d.rstrip("/").encode()).hexdigest()[:12]
        src = os.path.join(_tmp_root(), f"rollup_src_{tag}")
        shutil.rmtree(src, ignore_errors=True)
        # 4 time-ranged files → 4 triggers: enough watermark advances
        # to close and append most windows, without paying 8+ rounds of
        # state-store commit overhead in every bench pass
        load_table(s, d, "events").repartitionByRange(4, "ts").write.parquet(src)
        # replay in TIME order (part-00000 holds the lowest ts range):
        # the file source processes oldest-mtime first, and the write's
        # own mtimes land in arbitrary task-completion order — an
        # out-of-order replay would advance the watermark early and
        # silently drop whole files as late, making the pinned legs
        # measure a run-varying workload (same fix as
        # scripts/rollup_state_smoke.py, where this was root-caused)
        t0 = 1_700_000_000
        for i, f in enumerate(sorted(os.listdir(src))):
            os.utime(os.path.join(src, f), (t0 + i * 10, t0 + i * 10))
        _ROLLUP_SRC[d] = src
    return _ROLLUP_SRC[d]


#: Eager sub-phase seconds of the LAST _rollup_maintain_serve call —
#: the r7 lesson ("+69% with no decomposition") made explicit: the
#: lifecycle leg's artifact now names where its seconds go. maintain
#: and compact run eagerly inside the builder; serve is the remainder
#: (the noop write of the lazy tiered read), derived in main().
_ROLLUP_PHASES: dict[str, float] = {}

#: Summed state-store commitTimeMs (as seconds) of the LAST
#: _rollup_maintain_serve drain, from StreamingQueryProgress — the
#: per-trigger delta-file fsync I/O that dominates maintain at small
#: trigger volume (r9 probe: 80.1 s at 32 state partitions vs 4.2 s
#: at 8, same rows). Recorded next to the wall phases so a maintain
#: regression is attributable: wall up + commit I/O up = fsync regime
#: shift (machine); wall up + commit I/O flat = code.
_ROLLUP_COMMIT_S: list[float] = [0.0]

#: State stores the LAST _rollup_maintain_serve drain actually ran
#: at: OBSERVED (max stateOperators[].numShufflePartitions over the
#: drain's progress events), not re-derived, so the artifact records
#: what the query really did and a sizing divergence is diagnosable
#: from the artifact alone.
_ROLLUP_SIZING: list[int] = [0]


def _rollup_maintain_serve(s, d, state_partitions=None):
    """The incremental-rollup lifecycle end to end: streaming
    maintenance (availableNow, watermark-closed appends) into the live
    table, tiered compaction into the base, then the serving read
    (compacted base + live tail) — the timed unit is everything a
    refresh cycle costs. Fresh output dirs per call so warm and timed
    passes do identical work."""
    from video_stream_processor_spark.streaming.rollup import (
        compact_rollup,
        read_rollup_tiered,
        start_rollup_maintenance,
    )

    # r8-advisor: the derived 'serve' remainder used to absorb this
    # pre-maintain setup (rmtree + the batch schema read of the source
    # parquet); record setup as its own phase so serve is purely the
    # tiered-read noop write.
    t_enter = time.perf_counter()
    src = _rollup_events_src(s, d)
    out = os.path.join(_tmp_root(), "rollup_out")
    shutil.rmtree(out, ignore_errors=True)
    live, base, ckpt = (os.path.join(out, x) for x in ("live", "base", "ckpt"))
    stream = (
        s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    # Daily windows, not hourly: the fixture's 150-day span at sf0.1
    # would mean ~3600 hourly partition DIRS for ~1M events (~300 rows
    # each) — at that ratio the timing measures local-FS directory
    # churn, not the operator. Daily keeps per-partition volume
    # representative of what an hourly partition holds at cluster
    # scale; the aggregation/compaction/serving plans are identical.
    t0 = time.perf_counter()
    q = start_rollup_maintenance(
        stream,
        live,
        ckpt,
        size="1 day",
        watermark="30 minutes",
        state_partitions=state_partitions,
    )
    # bounded wait: a hung stream must not cost the round its bench
    # artifact (availableNow drains in seconds here; 600 s is headroom)
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("rollup maintenance did not drain within 600s")
    t1 = time.perf_counter()
    # commit_io_s sums over recentProgress, which Spark caps at
    # spark.sql.streaming.numRecentProgressUpdates entries (default
    # 100). The 4-file staging drains in ~5 triggers, but if the
    # staging or trigger cadence ever grows past the retention window
    # the sum would silently undercount — corrupting the wall-vs-
    # commit-I/O attribution axis (r10 advisor). Fail loudly instead.
    progress = q.recentProgress
    retention = int(
        s.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
    )
    if len(progress) >= retention:
        raise RuntimeError(
            f"lifecycle drain produced {len(progress)} progress entries, "
            f"at/over the numRecentProgressUpdates retention cap "
            f"{retention}: commit_io_s would silently undercount — raise "
            "the retention conf or shrink the staged trigger count"
        )
    _ROLLUP_COMMIT_S[0] = round(
        sum(
            so.get("commitTimeMs", 0)
            for pr in progress
            for so in (pr.get("stateOperators") or [])
        )
        / 1000.0,
        3,
    )
    _ROLLUP_SIZING[0] = max(
        (
            int(so.get("numShufflePartitions") or 0)
            for pr in progress
            for so in (pr.get("stateOperators") or [])
        ),
        default=0,
    )
    compact_rollup(s, live, base)
    t2 = time.perf_counter()
    _ROLLUP_PHASES["setup"] = round(t0 - t_enter, 3)
    _ROLLUP_PHASES["maintain"] = round(t1 - t0, 3)
    _ROLLUP_PHASES["compact"] = round(t2 - t1, 3)
    return read_rollup_tiered(s, live, base)


def _zorder_write_pruned_read(s, d):
    """write_partitioned(zorder_by=...) of lineitem + a pruned
    read-back filtering on the SECOND clustered dimension — times the
    Morton layout's full cost (one stats scan, range shuffle, sorted
    write) plus the scan it exists to accelerate. The filter range is
    derived from footer-served min/max (aggregatePushdown), so the
    leg is meaningful at any SF."""
    from video_stream_processor_spark.pipeline.sink import write_partitioned

    out = os.path.join(_tmp_root(), "zorder")
    shutil.rmtree(out, ignore_errors=True)
    li = load_table(s, d, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )
    write_partitioned(li, out, zorder_by=["l_partkey", "l_suppkey"], zorder_files=32)
    back = s.read.parquet(out)
    lo, hi = back.agg(F.min("l_suppkey"), F.max("l_suppkey")).first()
    span = max(hi - lo, 1)
    plo, phi = lo + int(span * 0.45), lo + int(span * 0.50)
    return back.filter(F.col("l_suppkey").between(plo, phi)).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def _pq_rerank_served(s, d):
    from video_stream_processor_spark.llm.dedup import _memo_checkpoint
    from video_stream_processor_spark.llm.similarity import pq_encode

    emb = load_table(s, d, "embeddings")
    book = pq_train(emb, m=8, k=16, iters=2)
    codes = _memo_checkpoint(pq_encode(emb, book, m=8), "bench_pq_codes")
    return pq_topk_rerank(
        emb, book, query_vec_id=0, topk=10, oversample=10, codes=codes
    )

HEADLINE = [
    "q1_pricing_summary",
    "scan_filter_project",
    "join_revenue_by_nation",
    "join_asof_signup",
    "agg_rollup",
    "win_ranking",
    "sort_topk_offset",
    "stream_tumbling_1h",
    "stream_session_30m",
    "llm_dedup_exact",
    "llm_minhash_pairs",
    "llm_cosine_topk",
    "llm_text_quality",
    # New-in-r3 entries (no r01 pin; their first numbers set the bar):
    "llm_text_quality_full",
    "llm_cosine_topk_batch",
    # New-in-r4 (no pin; first number sets the bar):
    "llm_pq_rerank",
    # New-in-r5 (no pin; first number sets the bar):
    "zorder_write_pruned_read",
    # New-in-r8: the sketch-bearing rollup lifecycle (format v3),
    # re-pinned under a versioned name (see EXTRA_BUILDERS comment),
    # and the 3-leg registered sessionization suite. Since r12 the v2
    # session-conf CONTROL is demoted to SPARK_GRAFT_BENCH_CONTROL=1
    # runs (r11 verdict item 5): it was 26% of every bench wall
    # re-proving a root cause pinned since r9 on a configuration the
    # engine no longer ships; the _auto-vs-_sized pair keeps the
    # sizing-dial tripwire every round. Run the control leg on demand
    # (or every few rounds) to refresh its bar:
    #     SPARK_GRAFT_BENCH_CONTROL=1 python bench.py
    "rollup_maintain_serve_v2",
    "stream_session_30m_full",
    # New-in-r9 (no pin; first number sets the bar): the lifecycle
    # with the stateful shuffle sized to the drain — the
    # state_partitions dial, quantified next to the pinned default.
    "rollup_maintain_serve_v2_sized",
    # New-in-r10 (no pin; first number sets the bar): the lifecycle at
    # the shipped default, state_partitions="auto".
    "rollup_maintain_serve_v2_auto",
]

#: Legs that re-measure retired/control configurations: run only under
#: SPARK_GRAFT_BENCH_CONTROL=1 (r11 verdict item 5 demoted the v2
#: session-conf control). Their absence from a default artifact is the
#: expected record of the demotion, not a regression.
CONTROL_LEGS = frozenset({"rollup_maintain_serve_v2"})


# Timings are only bar-comparable on a quiet machine (r3 shipped a
# 133 s artifact at load 4.61 that re-ran at 12.8 s idle). Measured
# inflation on this box vs the starting 1-min load: 0.16 -> 0.8x,
# 1.18 -> 2.2x, 1.33 (5m 2.87) -> 5x — so both averages gate, and
# "quiet" means well under one busy core.
LOAD_GATE_1M = 1.0
LOAD_GATE_5M = 2.0

def _await_quiet_machine() -> tuple[float, bool]:
    """Sample load BEFORE any Spark work (the bench's own executor
    threads would otherwise dominate the reading); if the machine is
    hot, sleep-and-resample within a bounded budget. Returns
    (final 1-min load, comparable?) — a still-hot machine runs anyway
    (the driver needs its one JSON line) but the artifact
    self-describes as not bar-comparable."""
    max_wait = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT_S", "300"))
    poll = 20.0
    waited = 0.0
    while True:
        l1, l5, _ = os.getloadavg()
        quiet = l1 < LOAD_GATE_1M and l5 < LOAD_GATE_5M
        if quiet or waited >= max_wait:
            return round(l1, 2), quiet
        print(
            f"# load {l1:.2f}/{l5:.2f} >= gate {LOAD_GATE_1M}/"
            f"{LOAD_GATE_5M}: waiting for quiet machine "
            f"({waited:.0f}/{max_wait:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(poll)
        waited += poll


def main() -> None:
    load_1m, comparable = _await_quiet_machine()
    # control legs run only on request (r11 verdict item 5 / r13
    # verdict item 3; see CONTROL_LEGS) — the mix drops them by default
    mix = [
        q
        for q in HEADLINE
        if q not in CONTROL_LEGS
        or os.environ.get("SPARK_GRAFT_BENCH_CONTROL") == "1"
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # the sf field is informational; an unconventional dir name (e.g.
    # sf0.1-idle) must not cost the round its one JSON line
    m = re.search(r"sf(\d+(?:\.\d+)?)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="vsp-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Self-describing parallelism (r15 verdict item 2): the driver's
    # scaling harness flagged suspect_cpus_ignored even though
    # SPARK_GRAFT_CPUS is honored (session.py builds local[N] from it)
    # because nothing in the artifact said what parallelism the session
    # actually ran. Stamp the RESOLVED values — observed from the live
    # SparkContext, not re-derived from the env — into both JSON lines.
    sc = spark.sparkContext
    default_parallelism = sc.defaultParallelism
    master = sc.master
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    specs = all_specs()
    builders = {name: spec.builder for name, spec in specs.items()}
    # the enriched registered queries (timed under their own new names)
    builders["llm_text_quality_full"] = specs["llm_text_quality"].builder
    builders["llm_cosine_topk_batch"] = specs["llm_cosine_topk"].builder
    builders["stream_session_30m_full"] = specs["stream_session_30m"].builder
    builders.update(EXTRA_BUILDERS)

    # Warm passes: whole-stage-codegen compilation (janino) of a complex
    # aggregate costs seconds ONCE per JVM, and C2 JIT needs a repeat to
    # settle; a resident cluster session pays both once across thousands
    # of queries. Measure steady state.
    def run(name: str) -> float:
        t0 = time.perf_counter()
        builders[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.perf_counter() - t0, 3)

    for _ in range(2):
        for name in mix:
            run(name)

    # Median of 3 timed passes per query (r8 verdict: two idle
    # same-head single-pass runs differed 20% — one pass per query
    # cannot tell a real 30% regression from machine drift). The 3
    # repeats run BACK TO BACK per query, not pass-major across the
    # mix: minutes-apart repeats would put slow machine drift INSIDE
    # each query's sample instead of between queries, which is the
    # noise the median is there to reject. The artifact records the
    # full min/med/max per query so a reader can see the achieved
    # noise floor instead of trusting one number.
    n_timed = 3
    samples: dict[str, list[float]] = {}
    phase_samples: dict[str, list[tuple[float, dict[str, float], float, int]]] = {}
    lifecycle_legs = tuple(LEG_ROLES)

    # Memo provenance (r15 verdict item 7): some legs serve from a
    # derived table the warm passes memoized in-process (llm_minhash
    # shingle arrays / candidates, the PQ codes+trainer) — legitimate
    # steady-state-serving framing, but the artifact must SAY which
    # legs do. A leg is stamped true iff any of its timed passes was
    # served a memoized checkpoint/artifact.
    def _memo_hit_total() -> int:
        from video_stream_processor_spark.llm.dedup import (
            _CKPT_LOCK,
            _MEMO_HITS,
        )

        with _CKPT_LOCK:
            return sum(_MEMO_HITS.values())

    served_from_memo: dict[str, bool] = {}
    for name in mix:
        ts = []
        for _ in range(n_timed):
            hits_before = _memo_hit_total()
            ts.append(run(name))
            served_from_memo[name] = (
                served_from_memo.get(name, False)
                or _memo_hit_total() > hits_before
            )
            if name in lifecycle_legs:
                # _ROLLUP_PHASES/_ROLLUP_COMMIT_S/_ROLLUP_SIZING hold
                # the latest invocation's eager phases, summed
                # state-commit I/O, and observed store count; capture
                # per pass so the reported decomposition is the median
                # pass's, not the last one's
                phase_samples.setdefault(name, []).append(
                    (
                        ts[-1],
                        dict(_ROLLUP_PHASES),
                        _ROLLUP_COMMIT_S[0],
                        _ROLLUP_SIZING[0],
                    )
                )
        samples[name] = ts

    def med(xs: list[float]) -> float:
        return sorted(xs)[len(xs) // 2]

    times = {name: med(ts) for name, ts in samples.items()}
    spread = {
        name: {"min": min(ts), "med": med(ts), "max": max(ts)}
        for name, ts in samples.items()
    }

    # name where each lifecycle leg's seconds went, from the pass whose
    # total IS the recorded median (serve = remainder after the eager
    # setup/maintain/compact phases — the tiered-read noop write;
    # commit_io_s is that same pass's summed state-store commitTimeMs,
    # which OVERLAPS the maintain wall and so stays out of the sum)
    phases = {}
    commit_io = {}
    for leg, leg_samples in phase_samples.items():
        med_t = times.get(leg)
        if med_t is None or not leg_samples:
            continue
        _, ph, commit_s, stores = min(
            leg_samples, key=lambda tp: abs(tp[0] - med_t)
        )
        eager = round(sum(ph.values()), 3)
        phases[leg] = {
            **ph,
            "serve": round(max(med_t - eager, 0.0), 3),
            "commit_io_s": commit_s,
            # observed state-store count (stateOperators[].
            # numShufflePartitions), so a sizing divergence is
            # visible in the artifact itself
            "state_stores": stores,
        }
        commit_io[leg] = commit_s

    # Detail line first, compact headline LAST: the driver wrapper
    # captures only the final ~2000 chars of stdout, and r9's single
    # fat line was truncated mid-object by exactly that window.
    print(
        json.dumps(
            {
                "metric": "headline_query_mix_detail",
                "spread": spread,
                "phases": phases,
                # which legs' timed passes were served an in-process
                # memoized derived table (steady-state-serving framing;
                # see _memo_hit_total above) — provenance, so a reader
                # sees what each number measures without reading the
                # builders
                "served_from_memo": {
                    k: v for k, v in served_from_memo.items() if v
                },
                # resolved session parallelism (see stamps in main):
                # the scaling harness verifies SPARK_GRAFT_CPUS from
                # the artifact instead of suspecting it was ignored
                "default_parallelism": default_parallelism,
                "master": master,
                "cpus_env": cpus_env,
                # which lifecycle number is the shipped default vs the
                # pinned control — in the artifact itself, so a reader
                # (or the pins checker) never has to infer it from
                # bench.py's source (r10 verdict labeling nit)
                "roles": {k: v for k, v in LEG_ROLES.items() if k in phases},
            }
        )
    )
    headline = json.dumps(
        {
            "metric": "headline_query_mix_total",
            "value": round(sum(times.values()), 3),
            "unit": "sec",
            "queries": times,
            "timed_passes": n_timed,
            # the lifecycle legs' state-commit I/O rides along in the
            # compact line too: it is the one detail a driver-side
            # refresh needs to tell an fsync-mode shift from a code
            # regression, and it is 2 small numbers
            "commit_io_s": commit_io,
            "sf": sf,
            # BENCH_BASELINE.json: timings only trustworthy at
            # machine load < ~2; recorded so a noisy round is
            # interpretable after the fact. comparable=false means
            # the load gate timed out still-hot: do NOT read these
            # numbers against any pinned bar.
            "load_1m": load_1m,
            "comparable": comparable,
            # observed parallelism of THIS run (r15 verdict item 2):
            # defaultParallelism + the resolved master string prove the
            # SPARK_GRAFT_CPUS contract from the artifact alone
            "default_parallelism": default_parallelism,
            "master": master,
            "cpus_env": cpus_env,
        }
    )
    # the whole point of the split — never hand the driver a final
    # line its 2000-char tail capture would truncate. The captured
    # window includes the trailing newline, so the line itself must
    # stay at most 1999 chars (r10 review: an exactly-2000-char line
    # would lose its first character). An unconditional raise, not
    # assert (r10 advisor): `python -O` strips asserts, and a silently
    # truncated final line is the exact r9 failure this check exists
    # to prevent.
    if len(headline) + 1 > 2000:
        raise SystemExit(
            f"final bench line grew to {len(headline)} chars: with its "
            "newline it overflows the driver's 2000-char tail window — "
            "move fields to the detail line"
        )
    print(headline)


if __name__ == "__main__":
    main()
