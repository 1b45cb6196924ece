"""The benchmark's workloads: one closed-loop client each.

A workload generates all of its inputs in ``setup`` from its own seeded
generator. The runner then calls ``op`` until the measuring time is
up, timing each call from outside, and calls ``check`` after each one,
outside the timed region. ``check`` reads the outputs with pandas,
pyarrow or DuckDB, never with Spark, and raises ``CheckFailed`` on any
mismatch.

Why these workloads (each loads layers the others leave flat):

* ``station_refresh`` is the reference pipeline as a cron refresh: the
  streaming text source, the Python/Arrow enrichment boundary
  (``mapInPandas``), the scalar derivations and a dedup state store
  that grows every cycle. Nothing in it aggregates.
* ``rollup_refresh`` is the incrementally maintained rollup: the
  state-store write path of two chained stateful aggregations, the
  compaction write and the tiered serving read. No Python UDF.
* ``interactive_queries`` issues registry queries over a generated
  star schema at scale 0.01: launch-bound, read-only, memo-warm. It is the only
  workload that loads ``plans``, ``operators`` and ``llm.similarity``.
  In its traced round, one more op of each pass runs the
  ``prepare-corpus`` composition (``llm.quality_model``, the MinHash
  path of ``llm.dedup``, ``llm.text`` chunking and ``pipeline.sink``)
  over its documents.
"""

from __future__ import annotations

import glob
import os
import re
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import tracing

OP_TIMEOUT_S = 60


class CheckFailed(Exception):
    pass


def _mkdir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _drain(query) -> None:
    """Wait for an availableNow query; a timeout or a query error fails
    the operation."""
    if not query.awaitTermination(OP_TIMEOUT_S):
        query.stop()
        raise TimeoutError(f"streaming query did not finish in {OP_TIMEOUT_S}s")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))


class Workload:
    """One closed-loop client: ``setup`` makes the inputs, ``op`` runs one
    operation (timed by the caller), ``check`` verifies its output."""

    name = ""
    #: operations run before timing starts: the cold first cycle and one
    #: more; cycle times still drift down by a few percent after that
    warmup_ops = 2
    #: lower bound on one operation's time, which sizes the pre-generated
    #: inputs; a run whose ops get faster than this ends when they run out
    min_op_s = 0.5
    #: timed ops of the traced round: a fixed count, so per-layer totals
    #: and state sizes do not depend on the speed of the ops
    trace_ops = 3
    #: Spark-execution layers: name -> the spans whose jobs it sums
    exec_layers: dict[str, list[str]] = {}
    #: whether the last op is one an untraced run also times
    last_in_mix = True

    def __init__(self, spark, work_dir: str, rng: np.random.Generator, tracer, max_ops: int):
        self.spark = spark
        self.dir = work_dir
        self.rng = rng
        self.tracer = tracer
        self.max_ops = max_ops
        self.inputs: dict[str, list[float]] = defaultdict(list)
        self.counters: dict[str, float] = defaultdict(float)

    def setup(self) -> None:
        """Generate every input of the run; nothing here is timed as an op."""
        raise NotImplementedError

    def op(self) -> int:
        """Run one operation; return the input records (or queries) done."""
        raise NotImplementedError

    def check(self) -> None:
        """Verify the last op's output without Spark; raise CheckFailed."""
        raise NotImplementedError

    def note_inputs(self, props: dict) -> None:
        for key, value in props.items():
            self.inputs[key].append(float(value))

    def input_summary(self) -> dict:
        return {k: float(np.mean(v)) for k, v in self.inputs.items()}

    def begin_timed(self) -> None:
        """Called once the warm-up is over: counters restart."""
        self.counters.clear()

    def exec_ops(self, layer: str, ops: int) -> int:
        """How many of ``ops`` timed ops ran the execution layer."""
        return ops

    def at_boundary(self) -> bool:
        """Whether the timed loop may stop after the last op."""
        return True

    def exhausted(self) -> bool:
        """Whether the pre-generated inputs are used up."""
        return False

    def outcomes(self) -> dict:
        """Outcome shares of the inputs so far, as the checks computed them."""
        return {}

    def layer_metrics(self, ops: int, progress: list[dict], jobs: dict) -> dict:
        return {}


# ---------------------------------------------------------------------------


class StationRefresh(Workload):
    """Each cycle lands one links file and drains
    ``read_links(streaming=True)`` -> ``build_station_records`` into a
    parquet sink with ``availableNow``."""

    name = "station_refresh"
    lines_per_cycle = 52_000
    min_op_s = 1.5
    #: cycle times keep falling for a few cycles after the cold one
    #: (measured on 4 cores: 12-14 s, then about 3.3, 2.8 and 2.5 s);
    #: two warm cycles left the run-to-run spread of op_p50_s at 0.22
    warmup_ops = 3
    exec_layers = {"station": ["station"]}

    def setup(self) -> None:
        self.stage = _mkdir(os.path.join(self.dir, "stage"))
        self.land = _mkdir(os.path.join(self.dir, "land"))
        self.out = os.path.join(self.dir, "out")
        self.ckpt = os.path.join(self.dir, "ckpt")
        links = gen.LinkStream(self.rng, self.lines_per_cycle)
        self.pending = []
        for i in range(self.max_ops):
            lines, props = links.cycle()
            name = f"links-{i:05d}.txt"
            gen.write_lines(os.path.join(self.stage, name), lines)
            self.pending.append((name, lines))
            self.note_inputs(props)
        self.seen_urls: set[str] = set()
        self.seen_files: set[str] = set()
        self.last_lines: list[str] = []

    def op(self) -> int:
        from video_stream_processor_spark.io import read_links
        from video_stream_processor_spark.pipeline.station import build_station_records
        from video_stream_processor_spark.sources.extractor import StubExtractor

        name, self.last_lines = self.pending.pop(0)
        with self.tracer.span("station"):
            os.rename(os.path.join(self.stage, name), os.path.join(self.land, name))
            links = read_links(self.spark, self.land, streaming=True)
            records = build_station_records(links, StubExtractor, observation="station")
            query = (
                records.writeStream.format("parquet")
                .option("path", self.out)
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _drain(query)
        return len(self.last_lines)

    def check(self) -> None:
        from video_stream_processor_spark.schemas import STATION_SCHEMA
        from video_stream_processor_spark.sources.extractor import StubExtractor

        stub = StubExtractor()
        urls = {ln.strip() for ln in self.last_lines}
        urls = {u for u in urls if u and not u.startswith("#")} - self.seen_urls
        self.seen_urls |= urls
        want = set()
        for u in urls:
            info = stub._one(u)
            if info is None:
                self.counters["stub_failed"] += 1
            elif "youtube.com/watch" in info["stream_url"]:
                self.counters["unresolved"] += 1
            else:
                want.add(u)
        self.counters["distinct_new"] += len(urls)
        expect = [(f.name, _ARROW_TYPES[f.dataType.typeName()]) for f in STATION_SCHEMA.fields]
        new_files = [f for f in _parquet_files(self.out) if f not in self.seen_files]
        self.seen_files.update(new_files)
        got: list[str] = []
        for f in new_files:
            table = pq.read_table(f)
            schema = [(fld.name, str(fld.type)) for fld in table.schema]
            if schema != expect:
                raise CheckFailed(f"station schema {schema} != {expect}")
            got.extend(table.column("url").to_pylist())
            self.counters["sink.bytes"] += os.path.getsize(f)
        self.counters["sink.files"] += len(new_files)
        if len(got) != len(set(got)) or set(got) != want:
            raise CheckFailed(
                f"station: {len(got)} rows / {len(set(got))} distinct urls, "
                f"expected {len(want)} new valid urls"
            )

    def exhausted(self) -> bool:
        return not self.pending

    def outcomes(self) -> dict:
        n = self.counters["distinct_new"]
        return {
            "stub_failed_share": self.counters["stub_failed"] / n if n else 0.0,
            "unresolved_share": self.counters["unresolved"] / n if n else 0.0,
        }

    def layer_metrics(self, ops, progress, jobs):
        out = _stream_metrics(ops, progress)
        out.update({k: v / ops for k, v in tracing.python_metrics(jobs.get("station", [])).items()})
        obs = [p.get("observedMetrics", {}).get("station") for p in progress]
        obs = [o for o in obs if o]
        n_in = sum(o["n_input"] for o in obs)
        n_failed = sum(o["n_failed"] for o in obs)
        n_unres = sum(o["n_unresolved"] for o in obs)
        out.update({
            "station.n_input": n_in / ops,
            "station.n_failed": n_failed / ops,
            "station.n_unresolved": n_unres / ops,
            "station.valid_ratio": (n_in - n_failed - n_unres) / n_in if n_in else 0.0,
            "station.dedup_ratio": n_in / (self.lines_per_cycle * ops),
            "sink.files": self.counters["sink.files"] / ops,
            "sink.bytes": self.counters["sink.bytes"] / ops,
        })
        return out


_ARROW_TYPES = {"string": "string", "integer": "int32", "double": "double", "boolean": "bool"}


def _stream_metrics(ops: int, progress: list[dict]) -> dict:
    """io + streaming state: durations averaged per trigger, counts per op."""
    n = len(progress)
    dur = [p.get("durationMs", {}) for p in progress]
    states = [s for p in progress for s in p.get("stateOperators", [])]
    last = progress[-1].get("stateOperators", []) if progress else []

    def per_trigger(key):
        return sum(d.get(key, 0) for d in dur) / n if n else 0.0

    return {
        "trigger.count": n / ops,
        "trigger.latest_offset_ms": per_trigger("latestOffset"),
        "trigger.planning_ms": per_trigger("queryPlanning"),
        "trigger.wal_commit_ms": per_trigger("walCommit"),
        "trigger.add_batch_ms": per_trigger("addBatch"),
        "state.commit_ms": sum(s.get("commitTimeMs", 0) for s in states) / n if n else 0.0,
        "state.rows_total": float(sum(s.get("numRowsTotal", 0) for s in last)),
        "state.memory_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in last)),
        "state.stores": float(sum(s.get("numShufflePartitions", 0) for s in last)),
        "state.rows_dropped_by_watermark": sum(
            s.get("numRowsDroppedByWatermark", 0) for s in states) / ops,
    }


# ---------------------------------------------------------------------------

WATERMARK_US = 30 * 60 * 1_000_000  # start_rollup_maintenance's default delay
HOUR_US = 3600 * 1_000_000
SERVED = ["win_start", "win_end", "event_type", "n_events", "sum_value", "n_users_approx"]


class RollupRefresh(Workload):
    """Each cycle lands one events file, then runs
    ``start_rollup_maintenance`` (availableNow) -> ``compact_rollup`` ->
    ``read_rollup_tiered`` and collects the served table."""

    name = "rollup_refresh"
    events_per_cycle = 50_000
    min_op_s = 2.0
    exec_layers = {"maintain": ["maintain"], "compact": ["compact"], "serve": ["serve"]}

    def setup(self) -> None:
        self.stage = _mkdir(os.path.join(self.dir, "stage"))
        self.land = _mkdir(os.path.join(self.dir, "land"))
        self.live = os.path.join(self.dir, "live")
        self.base = os.path.join(self.dir, "base")
        self.ckpt = os.path.join(self.dir, "ckpt")
        events = gen.EventStream(self.rng, self.events_per_cycle)
        self.pending = []
        for i in range(self.max_ops):
            table, props = events.cycle()
            name = f"events.parquet.{i:05d}"
            pq.write_table(table, os.path.join(self.stage, name))
            self.pending.append((name, table))
            self.note_inputs(props)
        self.landed: list[pd.DataFrame] = []
        self.served: pd.DataFrame | None = None
        self.judged: dict[tuple, int] = {}  # (win_start, event_type) -> n_users_approx

    def op(self) -> int:
        from video_stream_processor_spark.io import load_events_stream
        from video_stream_processor_spark.streaming.rollup import (
            compact_rollup,
            read_rollup_tiered,
            start_rollup_maintenance,
        )

        name, table = self.pending.pop(0)
        with self.tracer.span("maintain"):
            os.rename(os.path.join(self.stage, name), os.path.join(self.land, name))
            query = start_rollup_maintenance(
                load_events_stream(self.spark, self.land), self.live, self.ckpt)
            _drain(query)
        self.landed.append(pd.DataFrame({
            "ts_us": table.column("ts").cast(pa.int64()).to_numpy(),
            "user_id": table.column("user_id").to_numpy(),
            "event_type": table.column("event_type").to_pylist(),
            "cents": np.round(table.column("value").to_numpy() * 100).astype("int64"),
        }))
        with self.tracer.span("compact"):
            compact_rollup(self.spark, self.live, self.base)
        with self.tracer.span("serve"):
            served = read_rollup_tiered(self.spark, self.live, self.base)
            self.served = served.select(*SERVED).toPandas()
        return table.num_rows

    def expected(self) -> tuple[pd.DataFrame, int]:
        """The rollup a correct maintainer serves after the landed
        cycles, and the number of events the watermark dropped.

        One file is one micro-batch. An event is late, and dropped, when
        its window closed before its batch: window end <= max event time
        of the earlier batches minus the watermark delay. A window is
        served once its end is at or below the watermark after the last
        batch."""
        frames, wm = [], None
        for df in self.landed:
            win = (df["ts_us"] - df["ts_us"] % HOUR_US).to_numpy()
            keep = np.ones(len(df), bool) if wm is None else win + HOUR_US > wm
            frames.append(df[keep].assign(win_start=win[keep] // 1_000_000))
            top = int(df["ts_us"].max()) // 1000 * 1000 - WATERMARK_US  # Spark keeps ms
            wm = top if wm is None else max(wm, top)
        kept = pd.concat(frames, ignore_index=True)
        dropped = sum(len(df) for df in self.landed) - len(kept)
        kept = kept[(kept["win_start"] * 1_000_000 + HOUR_US <= wm).to_numpy()]
        agg = kept.groupby(["win_start", "event_type"]).agg(
            n_events=("cents", "size"), cents=("cents", "sum"), users=("user_id", "nunique"))
        return agg.reset_index(), dropped

    def exhausted(self) -> bool:
        return not self.pending

    def outcomes(self) -> dict:
        n = sum(len(df) for df in self.landed)
        return {"watermark_dropped_share": self.counters["late_dropped"] / n if n else 0.0}

    def check(self) -> None:
        """Served windows are exactly the closed ones; their counts and
        sums are exact; ``n_users_approx`` is within the module's
        documented 10% of the exact distinct count when a window is first
        served, and unchanged afterwards. A window is judged once, so one
        bad estimate fails one op, not every later one."""
        want, dropped = self.expected()
        self.counters["late_dropped"] = dropped
        merged = want.merge(self.served, on=["win_start", "event_type"], how="outer", indicator=True)
        if (merged["_merge"] != "both").any():
            bad = merged[merged["_merge"] != "both"][["win_start", "event_type", "_merge"]].head(3)
            raise CheckFailed(f"rollup: served windows differ from closed windows:\n{bad}")
        cents = (merged["sum_value"] * 100).round().astype("int64")
        if not ((merged["n_events_x"] == merged["n_events_y"]).all() and (cents == merged["cents"]).all()):
            raise CheckFailed("rollup: served n_events/sum_value differ from the input")
        keys = list(zip(merged["win_start"], merged["event_type"]))
        approx = dict(zip(keys, merged["n_users_approx"]))
        changed = [k for k, v in self.judged.items() if approx[k] != v]
        new = np.array([k not in self.judged for k in keys])
        self.judged.update(approx)
        if changed:
            raise CheckFailed(f"rollup: n_users_approx changed for served windows {changed[:3]}")
        err = (merged["n_users_approx"] - merged["users"]).abs() / merged["users"]
        bad = merged.loc[new & (err > 0.10).to_numpy(),
                         ["win_start", "event_type", "users", "n_users_approx"]]
        if len(bad):
            raise CheckFailed(f"rollup: n_users_approx off by more than 10%:\n{bad.head(3)}")

    def layer_metrics(self, ops, progress, jobs):
        out = _stream_metrics(ops, progress)
        for layer in ("compact", "serve"):
            out[f"{layer}.s"] = float(np.median(self.tracer.span_seconds(layer)))
        out["compact.live_files"] = float(len(_parquet_files(self.live)))
        out["serve.files_read"] = float(self._tiered_files())
        return out

    def _tiered_files(self) -> int:
        """Files the tiered read scans: base windows up to the compaction
        mark, live windows above it."""
        from video_stream_processor_spark.streaming.rollup import _read_manifest

        manifest = _read_manifest(self.base)
        if manifest is None:
            return len(_parquet_files(self.live))
        hwm = int(manifest["win_start_hwm"])

        def win(path):
            return int(re.search(r"win_start=(-?\d+)", path).group(1))

        return (sum(1 for f in _parquet_files(self.base) if win(f) <= hwm)
                + sum(1 for f in _parquet_files(self.live) if win(f) > hwm))


# ---------------------------------------------------------------------------

#: Registry queries the interactive client issues: relational, join,
#: window, SQL, as-of, similarity top-k (exact and memo-served IVF) and
#: token-window chunking. Left out: the LSH pair and cluster entries and
#: llm_corpus_filter_suite, which take 6-20 s cold each on 4 cores and would
#: make this a compute-bound mix with a set-up longer than the run; the
#: ``prepare_corpus`` op below loads their layers instead.
QUERIES = (
    "q1_pricing_summary",
    "agg_orders_by_month",
    "join_semi_anti",
    "join_asof_signup",
    "win_top1_per_group",
    "sql_grouping_sets",
    "llm_cosine_topk",
    "llm_ivf_topk",
    "llm_sequence_packing",
)
#: In the traced round, one more op of each pass is the
#: ``prepare-corpus`` composition over the documents table
#: (``__main__.cmd_prepare_corpus`` with its defaults). Untraced runs
#: leave it out: its cold quality-model training (8.5 s on 4 cores) and
#: 2.5 s per pass would add about 14 s to every untraced run, more
#: than the benchmark's run budget has room for.
CORPUS = "prepare_corpus"
PASS = QUERIES + (CORPUS,)
CORPUS_SPANS = ("corpus.quality", "corpus.minhash", "corpus.chunk", "corpus.sink")
TABLE_SCALE = 0.01


class _Collected:
    """What ``compare_to_oracle`` needs from a DataFrame: the rows the
    timed operation already collected."""

    def __init__(self, frame: pd.DataFrame):
        self.frame = frame

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 (DataFrame API)
        return self.frame


class InteractiveQueries(Workload):
    """One client issues the registry queries in seeded passes (each
    pass a fresh permutation) and collects their rows; in the traced
    round each pass also runs prepare-corpus once. The warm-up is one
    whole pass, so every op has run once, and every memo is warm,
    before timing starts."""

    name = "interactive_queries"
    warmup_ops = len(QUERIES)
    exec_layers = {"query": [f"plans.{q}" for q in QUERIES], "corpus": list(CORPUS_SPANS)}

    def setup(self) -> None:
        from video_stream_processor_spark.plans import all_specs

        self.sf = os.path.join(self.dir, "sf")
        self.corpus_out = os.path.join(self.dir, "corpus")
        self.passes = PASS if self.tracer.enabled else QUERIES
        self.warmup_ops = len(self.passes)
        self.trace_ops = 2 * len(self.passes)
        self.note_inputs(gen.write_tables(self.rng, self.sf, TABLE_SCALE))
        docs = pq.read_table(os.path.join(self.sf, "documents.parquet"), columns=["doc_id", "text"])
        self.doc_text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
        specs = all_specs()
        self.specs = {q: specs[q] for q in QUERIES}
        self.queue: list[str] = []
        self.checked: set[str] = set()
        self.last: tuple[str, pd.DataFrame | None] | None = None

    def op(self) -> int:
        if not self.queue:
            self.queue = [self.passes[i] for i in self.rng.permutation(len(self.passes))]
        name = self.queue.pop(0)
        if self.tracer.enabled:
            hits, held = _memo_state()
        if name == CORPUS:
            self.prepare_corpus()
            frame = None
        else:
            with self.tracer.span(f"plans.{name}"):
                frame = self.specs[name].builder(self.spark, self.sf).toPandas()
        if self.tracer.enabled:
            hits2, held2 = _memo_state()
            self.counters["memo.hits"] += hits2 - hits
            self.counters["memo.builds"] += max(held2 - held, 0)
        self.last = (name, frame)
        self.last_in_mix = name != CORPUS
        return 1

    def prepare_corpus(self) -> None:
        """Quality filter -> MinHash near-dup anti-join -> token-window
        chunking -> partitioned shard write, as ``prepare-corpus`` runs
        it. The traced run materializes each stage at its boundary."""
        from pyspark.sql import functions as F

        from video_stream_processor_spark.io import load_table
        from video_stream_processor_spark.llm.dedup import minhash_near_dup_pairs
        from video_stream_processor_spark.llm.quality_model import (
            quality_features,
            score_quality,
            standardize,
            train_quality_model,
        )
        from video_stream_processor_spark.llm.text import chunk_token_windows
        from video_stream_processor_spark.pipeline.sink import write_partitioned

        tr = self.tracer
        docs = load_table(self.spark, self.sf, "documents")
        with tr.span("corpus.quality"):
            moments, w = train_quality_model(docs)
            kept_ids = (
                score_quality(standardize(quality_features(docs), moments), w)
                .filter(F.col("quality_score") >= F.lit(0.5))
                .select("doc_id")
            )
            kept, n_kept = tr.materialize(docs.join(kept_ids, "doc_id", "left_semi"))
        with tr.span("corpus.minhash"):
            pairs, n_pairs = tr.materialize(minhash_near_dup_pairs(kept, threshold=0.5))
            losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
            survivors = kept.join(losers, "doc_id", "left_anti")
        with tr.span("corpus.chunk"):
            chunks, n_chunks = tr.materialize(
                chunk_token_windows(survivors, window=64, stride=48, with_text=True))
        with tr.span("corpus.sink"):
            write_partitioned(chunks, self.corpus_out, partition_by=["lang"],
                              max_records_per_file=100_000, cluster_by=["doc_id", "chunk_idx"])
        if tr.enabled:
            tr.release()
            self.counters["quality.kept"] += n_kept
            self.counters["minhash.pairs"] += n_pairs
            self.counters["minhash.candidates"] += _memo_rows("minhash_cand")
            self.counters["chunk.rows"] += n_chunks

    def begin_timed(self) -> None:
        super().begin_timed()
        self.checked.clear()  # each query's first timed run is checked too

    def exec_ops(self, layer: str, ops: int) -> int:
        passes = ops // len(self.passes)
        return passes if layer == "corpus" else passes * len(QUERIES)

    def at_boundary(self) -> bool:
        return not self.queue

    def check(self) -> None:
        """A query is compared with its oracle at its first run in the
        warm-up and in the timed loop; every prepare-corpus run is
        checked."""
        from tests.oracle_harness import compare_to_oracle

        name, frame = self.last
        if name == CORPUS:
            self.check_corpus()
            return
        if name in self.checked:
            return
        self.checked.add(name)
        try:
            compare_to_oracle(_Collected(frame), self.specs[name].oracle, self.sf, name)
        except AssertionError as exc:
            raise CheckFailed(str(exc)) from exc

    def check_corpus(self) -> None:
        """Every written doc_id is an input document, and no two written
        documents have the same text."""
        files = _parquet_files(self.corpus_out)
        ids = {i for f in files for i in pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist()}
        if not ids:
            raise CheckFailed("prepare_corpus wrote no documents")
        unknown = ids - self.doc_text.keys()
        if unknown:
            raise CheckFailed(f"prepare_corpus: doc_ids not in the input: {sorted(unknown)[:5]}")
        texts = [self.doc_text[i] for i in ids]
        if len(set(texts)) != len(texts):
            raise CheckFailed(f"prepare_corpus: {len(texts) - len(set(texts))} exact duplicates survived")
        self.counters["corpus.docs_out"] += len(ids)
        self.counters["sink.files"] += len(files)
        self.counters["sink.bytes"] += sum(os.path.getsize(f) for f in files)

    def layer_metrics(self, ops, progress, jobs):
        out = {}
        n_jobs = 0
        for q in QUERIES:
            times = self.tracer.span_seconds(f"plans.{q}")
            out[f"plans.{q}.p50_s"] = float(np.median(times)) if times else 0.0
            n_jobs += len(jobs.get(f"plans.{q}", []))
        n_query = max(self.exec_ops("query", ops), 1)
        n_corpus = max(self.exec_ops("corpus", ops), 1)
        out["plans.jobs_per_query"] = n_jobs / n_query
        out["memo.hits"] = self.counters["memo.hits"] / ops
        out["memo.builds"] = self.counters["memo.builds"] / ops
        for span, metric in zip(CORPUS_SPANS, ("quality.s", "minhash.s", "chunk.s", "sink.write_s")):
            out[metric] = float(np.median(self.tracer.span_seconds(span)))
        c = self.counters
        out.update({
            "quality.kept_ratio": c["quality.kept"] / (len(self.doc_text) * n_corpus),
            "minhash.candidates": c["minhash.candidates"] / n_corpus,
            "minhash.pairs": c["minhash.pairs"] / n_corpus,
            "minhash.candidates_per_pair":
                c["minhash.candidates"] / c["minhash.pairs"] if c["minhash.pairs"] else 0.0,
            "chunk.rows": c["chunk.rows"] / n_corpus,
            "sink.files": c["sink.files"] / n_corpus,
            "sink.bytes": c["sink.bytes"] / n_corpus,
        })
        return out


def _memo_state() -> tuple[int, int]:
    """(memo hits so far, memoized entries held) of the engine's derived
    table and trained-artifact memos."""
    from video_stream_processor_spark.llm import dedup, quality_model, similarity

    hits = sum(getattr(dedup, "_MEMO_HITS", {}).values())
    held = sum(len(getattr(mod, attr, ())) for mod, attr in (
        (dedup, "_CKPT_MEMO"), (similarity, "_TRAIN_MEMO"), (quality_model, "_MODEL_MEMO")))
    return hits, held


def _memo_rows(tag: str) -> int:
    """Rows of the newest derived table the engine memoized under
    ``tag`` (its keys are (session, tag, plan hash, input files))."""
    from video_stream_processor_spark.llm import dedup

    frames = [ck for key, (_, ck) in list(dedup._CKPT_MEMO.items()) if key[1] == tag]
    return frames[-1].count() if frames else 0


WORKLOADS = {w.name: w for w in (StationRefresh, RollupRefresh, InteractiveQueries)}
