"""CLI — the switching path from the reference.

The reference runs as ``python video_processor.py`` over ``links.txt``
(video_processor.py:394-417: check links.txt, process all, write the
JSON array, exit 0 on >0 records else 1). The equivalent here is:

    python -m video_stream_processor_spark station links.txt out.json

plus the engine surface the reference doesn't have:

    python -m video_stream_processor_spark list
    python -m video_stream_processor_spark query q1_pricing_summary \
        --sf-dir /root/testdata/sf0.01 --limit 20

Exit codes mirror the reference: 0 when records were produced, 1
otherwise.
"""

from __future__ import annotations

import argparse
import os
import sys


def _spark(cpus: int | None = None):
    from .session import get_spark

    return get_spark(app_name="vsp-cli", cpus=cpus)


def cmd_station(args: argparse.Namespace) -> int:
    if not os.path.exists(args.links):
        print(f"links file not found: {args.links}", file=sys.stderr)
        return 1
    from .io import read_links
    from .pipeline.sink import write_json_array
    from .pipeline.station import build_station_records
    from .sources.extractor import StubExtractor, YtDlpExtractor

    if args.stub:
        factory = StubExtractor
    else:
        try:  # yt-dlp is an optional runtime dependency
            import yt_dlp  # noqa: F401

            factory = YtDlpExtractor
        except ImportError:
            print("yt-dlp not installed — using deterministic stub extractor")
            factory = StubExtractor
    spark = _spark(args.cpus)
    links = read_links(spark, args.links)
    records = build_station_records(links, factory)
    n = write_json_array(records, args.output)
    print(f"wrote {n} station records to {args.output}")
    return 0 if n > 0 else 1


def cmd_list(_args: argparse.Namespace) -> int:
    from .plans import all_specs

    for name, spec in sorted(all_specs().items()):
        kind = "oracle" if spec.oracle else "rows-only"
        print(f"{name}\t{spec.survey_ids}\t{kind}")
    return 0


def cmd_query(args: argparse.Namespace) -> int:
    from .plans import all_specs

    specs = all_specs()
    if args.name not in specs:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 1
    spark = _spark(args.cpus)
    df = specs[args.name].builder(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.limit, truncate=False)
    return 0


def cmd_train_quality(args: argparse.Namespace) -> int:
    """Train the learned quality filter on a corpus and persist the
    artifact — the scheduled-train half of train-once/serve-elsewhere."""
    from .io import load_table
    from .llm.artifacts import save_quality_model
    from .llm.quality_model import train_quality_model

    spark = _spark(args.cpus)
    docs = load_table(spark, args.sf_dir, "documents")
    moments, w = train_quality_model(
        docs, iters=args.iters, sample_mod=args.sample_mod
    )
    save_quality_model(spark, args.model_path, moments, w)
    print(f"trained {args.iters} rounds; weights {[round(x, 6) for x in w]}")
    print(f"saved model to {args.model_path}")
    return 0


def cmd_score_quality(args: argparse.Namespace) -> int:
    """Score a corpus with a persisted quality model — the serving
    half; inference is one map-side pass, the model rides as literals."""
    from pyspark.sql import functions as F

    from .io import load_table
    from .llm.artifacts import load_quality_model
    from .llm.quality_model import quality_features, score_quality, standardize

    spark = _spark(args.cpus)
    moments, w = load_quality_model(spark, args.model_path)
    docs = load_table(spark, args.sf_dir, "documents")
    scored = score_quality(
        standardize(quality_features(docs), moments), w
    ).select(
        "doc_id",
        "lang",
        "source",
        "quality_score",
        (F.col("quality_score") >= F.lit(args.threshold)).alias("keep"),
    )
    scored.write.mode("overwrite").parquet(args.output)
    kept = spark.read.parquet(args.output)
    n_all = kept.count()
    n_keep = kept.filter("keep").count()
    print(f"scored {n_all} docs -> {args.output} ({n_keep} pass "
          f"threshold {args.threshold})")
    return 0 if n_all > 0 else 1


def cmd_prepare_corpus(args: argparse.Namespace) -> int:
    """End-to-end training-shard preparation — the composition a
    training-data pipeline actually runs, each stage the engine's
    scale-path form:

    1. learned quality filter (trained in-run, or loaded with
       --model-path): map-side sigmoid, model as plan literals;
    2. near-dup dedup survivors: MinHash+LSH pair generation, drop the
       higher-id member of each pair via anti-join;
    3. token-window chunking WITH text (map-side explode);
    4. partitioned shard write (hive-partitioned by lang, capped file
       sizes, doc_id-clustered row groups).
    """
    from pyspark.sql import functions as F

    from .io import load_table
    from .llm.dedup import minhash_near_dup_pairs
    from .llm.quality_model import (
        quality_features,
        score_quality,
        standardize,
        train_quality_model,
    )
    from .llm.text import chunk_token_windows
    from .pipeline.sink import write_partitioned

    spark = _spark(args.cpus)
    docs = load_table(spark, args.sf_dir, "documents")
    n_in = docs.count()

    if args.model_path:
        from .llm.artifacts import load_quality_model

        moments, w = load_quality_model(spark, args.model_path)
    else:
        moments, w = train_quality_model(docs, sample_mod=args.sample_mod)
    kept_ids = (
        score_quality(standardize(quality_features(docs), moments), w)
        .filter(F.col("quality_score") >= F.lit(args.threshold))
        .select("doc_id")
    )
    kept = docs.join(kept_ids, "doc_id", "left_semi")

    pairs = minhash_near_dup_pairs(kept, threshold=args.minhash_threshold)
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = kept.join(losers, "doc_id", "left_anti")

    chunks = chunk_token_windows(
        survivors, window=args.window, stride=args.stride, with_text=True
    )
    cluster = ["doc_id", "chunk_idx"]
    if args.pack_tokens:
        # Pack chunks into ~fixed-token training sequences: running
        # token count per lang partition (one sort-within-partition
        # window, single running-sum state — same shape as
        # llm_sequence_packing), so a trainer reads pack_id-contiguous
        # row groups as its sequences.
        from pyspark.sql import Window

        w = (
            Window.partitionBy("lang")
            .orderBy("doc_id", "chunk_idx")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        chunks = chunks.withColumn(
            "pack_id",
            F.floor(
                (F.sum("chunk_tokens").over(w) - F.col("chunk_tokens"))
                / args.pack_tokens
            ),
        )
        cluster = ["pack_id", "doc_id", "chunk_idx"]
    write_partitioned(
        chunks,
        args.output,
        partition_by=["lang"],
        max_records_per_file=args.max_records_per_file,
        cluster_by=cluster,
    )
    out = spark.read.parquet(args.output)
    n_chunks = out.count()
    n_docs = out.select("doc_id").distinct().count()
    print(
        f"{n_in} docs in -> {n_docs} docs kept -> {n_chunks} chunks "
        f"written to {args.output} (partitioned by lang)"
    )
    return 0 if n_chunks > 0 else 1


def cmd_rollup(args: argparse.Namespace) -> int:
    """Incrementally-maintained rollup table (streaming/rollup.py) as a
    CLI: the incremental replacement for the reference's 2-hour-cron
    full recompute (update-streams.yml:4-10). Default action runs ONE
    availableNow maintenance pass (cron-able: each pass resumes from
    the checkpoint and appends only newly-closed windows); --backfill
    writes history idempotently; --read serves live ∪ backfill."""
    from .streaming.rollup import (
        backfill_rollup,
        compact_rollup,
        read_rollup,
        read_rollup_tiered,
        start_rollup_maintenance,
    )

    spark = _spark(args.cpus)

    def count_table(path: str) -> int:
        # a pass that closed zero windows leaves a sink with metadata
        # but no data files — that's "0 rows", not a traceback
        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(path).count()
        except AnalysisException:
            return 0

    if args.compact:
        if not args.base_dir:
            print("--compact requires --base-dir", file=sys.stderr)
            return 1
        hwm = compact_rollup(spark, args.table_dir, args.base_dir)
        print(f"compacted {args.table_dir} into {args.base_dir}, hwm={hwm}")
        return 0 if hwm is not None else 1
    if args.read:
        if args.base_dir:
            df = read_rollup_tiered(spark, args.table_dir, args.base_dir).cache()
        else:
            df = read_rollup(spark, args.table_dir, args.backfill_dir).cache()
        try:
            n = df.count()
            df.orderBy("win_start", "event_type").show(args.limit, truncate=False)
        finally:
            df.unpersist()
        print(f"{n} rollup rows served from {args.table_dir}")
        return 0 if n > 0 else 1
    if args.backfill:
        from .io import load_table

        ev = load_table(spark, args.sf_dir, "events")
        backfill_rollup(
            ev,
            args.table_dir,
            size=args.size,
            upto_epoch=args.upto_epoch,
            p=args.sketch_p,
        )
        n = count_table(args.table_dir)
        print(f"backfilled {n} rollup rows to {args.table_dir}")
        return 0 if n > 0 else 1
    from .io import load_events_stream

    ckpt = args.checkpoint or f"{args.table_dir.rstrip('/')}_ckpt"
    q = start_rollup_maintenance(
        load_events_stream(spark, args.sf_dir),
        args.table_dir,
        ckpt,
        size=args.size,
        watermark=args.watermark,
        p=args.sketch_p,
        state_partitions=args.state_partitions,
    )
    if not q.awaitTermination(args.timeout):
        q.stop()
        print(
            f"maintenance pass exceeded --timeout {args.timeout}s and was "
            "stopped; the checkpoint makes the next pass resume safely",
            file=sys.stderr,
        )
        return 1
    n = count_table(args.table_dir)
    print(f"maintenance pass complete: {n} closed-window rows in {args.table_dir}")
    return 0 if n > 0 else 1


def cmd_layout(args: argparse.Namespace) -> int:
    """Rewrite a parquet table with a physical layout tuned for its
    read pattern (pipeline/sink.write_partitioned): hive partitioning
    (--partition-by), linear in-file clustering (--cluster-by), or
    multi-dimensional Z-order (--zorder-by, operators/zorder.py) —
    the one-shot ops tool behind the layout story SCALE.md measures.
    Input is either an arbitrary parquet path (--input) or a fixture
    table (--table + --sf-dir)."""
    if bool(args.input) == bool(args.table):
        print("layout needs exactly one of --input or --table", file=sys.stderr)
        return 1
    from .pipeline.sink import (
        SinkVerificationError,
        rewrite_in_place,
        write_partitioned,
    )

    spark = _spark(args.cpus)

    def _write(df, path):
        write_partitioned(
            df,
            path,
            fmt=args.format,
            partition_by=args.partition_by,
            max_records_per_file=args.max_records_per_file,
            cluster_by=args.cluster_by,
            zorder_by=args.zorder_by,
            zorder_files=args.zorder_files,
        )

    in_place = args.input and os.path.abspath(
        args.input.rstrip("/")
    ) == os.path.abspath(args.output.rstrip("/"))
    try:
        if in_place:
            # rewriting a table onto itself: staged write -> verify ->
            # atomic swap (Spark refuses the direct overwrite-from-read,
            # and rightly so — pipeline/sink.rewrite_in_place)
            n = rewrite_in_place(spark, args.input, _write, fmt=args.format)
            print(f"rewrote {n} rows in place at {args.output}")
            # a VERIFIED 0-row rewrite is success: the table really was
            # empty and the swap preserved that (unlike the fresh-write
            # path below, where 0 rows usually means a bad --input)
            return 0
        if args.table:
            from .io import load_table

            df = load_table(spark, args.sf_dir, args.table)
        else:
            df = spark.read.parquet(args.input)
        _write(df, args.output)
    except (ValueError, SinkVerificationError) as exc:
        print(f"layout failed: {exc}", file=sys.stderr)
        return 1
    n = spark.read.format(args.format).load(args.output).count()
    print(f"wrote {n} rows to {args.output}")
    return 0 if n > 0 else 1


def _state_partitions_arg(v: str) -> int | str | None:
    """--state-partitions: 'auto', 'session'/'none' (-> None, the
    legacy session-conf behavior), or a positive int. Zero/negative
    used to flow straight into spark.sql.shuffle.partitions at query
    start and die as an opaque planner error (r10 advisor);
    ArgumentTypeError keeps the failure an argparse-level usage
    message."""
    sentinels = {"auto": "auto", "none": None, "session": None}
    low = v.lower()
    if low in sentinels:
        return sentinels[low]
    expected = "/".join(f"'{s}'" for s in sentinels)
    try:
        n = int(v)
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"expected {expected} or a positive integer, got {v!r}"
        ) from None
    if n <= 0:
        raise argparse.ArgumentTypeError(
            f"state-store partition count must be positive, got {n}"
        )
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python -m video_stream_processor_spark")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    ps = sub.add_parser("station", help="reference-parity pipeline: links file -> JSON array")
    ps.add_argument("links")
    ps.add_argument("output")
    ps.add_argument("--stub", action="store_true", help="force the deterministic stub extractor")
    ps.set_defaults(fn=cmd_station)

    pl = sub.add_parser("list", help="list registered queries")
    pl.set_defaults(fn=cmd_list)

    pq = sub.add_parser("query", help="run a registered query and show rows")
    pq.add_argument("name")
    pq.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    pq.add_argument("--limit", type=int, default=20)
    pq.add_argument("--explain", action="store_true", help="print the physical plan first")
    pq.set_defaults(fn=cmd_query)

    pt = sub.add_parser(
        "train-quality",
        help="train the learned quality filter and persist the artifact",
    )
    pt.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    pt.add_argument("--model-path", required=True)
    pt.add_argument("--iters", type=int, default=32)
    pt.add_argument("--sample-mod", type=int, default=None,
                    help="train on the deterministic 1/N doc_id hash-sample")
    pt.set_defaults(fn=cmd_train_quality)

    pc = sub.add_parser(
        "score-quality",
        help="score a corpus with a persisted quality model",
    )
    pc.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    pc.add_argument("--model-path", required=True)
    pc.add_argument("--output", required=True)
    pc.add_argument("--threshold", type=float, default=0.5)
    pc.set_defaults(fn=cmd_score_quality)

    pp = sub.add_parser(
        "prepare-corpus",
        help="quality-filter, near-dup-dedup, chunk, and shard a corpus",
    )
    pp.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    pp.add_argument("--output", required=True)
    pp.add_argument("--model-path", default=None,
                    help="saved quality model; trains in-run if omitted")
    pp.add_argument("--sample-mod", type=int, default=None)
    pp.add_argument("--threshold", type=float, default=0.5)
    pp.add_argument("--minhash-threshold", type=float, default=0.5)
    pp.add_argument("--window", type=int, default=64)
    pp.add_argument("--stride", type=int, default=48)
    pp.add_argument("--max-records-per-file", type=int, default=100_000)
    pp.add_argument("--pack-tokens", type=int, default=None,
                    help="also assign chunks to ~N-token training packs")
    pp.set_defaults(fn=cmd_prepare_corpus)

    pr = sub.add_parser(
        "rollup",
        help="incrementally-maintained hourly rollup table: one "
        "maintenance pass (default, cron-able), --backfill, or --read",
    )
    pr.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    pr.add_argument("--table-dir", required=True)
    pr.add_argument("--checkpoint", default=None,
                    help="checkpoint dir (default: <table-dir>_ckpt)")
    pr.add_argument("--size", default="1 hour")
    pr.add_argument("--watermark", default="30 minutes")
    pr.add_argument("--backfill", action="store_true",
                    help="idempotent batch backfill instead of maintenance")
    pr.add_argument("--upto-epoch", type=int, default=None,
                    help="backfill only windows ending at/before this epoch")
    pr.add_argument("--read", action="store_true",
                    help="serve live ∪ backfill instead of writing")
    pr.add_argument("--backfill-dir", default=None)
    pr.add_argument("--compact", action="store_true",
                    help="compact closed live windows into --base-dir "
                    "(incremental; live files untouched)")
    pr.add_argument("--base-dir", default=None,
                    help="compacted base table; with --read, serves "
                    "base + live tail instead of live + backfill")
    pr.add_argument("--sketch-p", type=int, default=None,
                    help="HLL sketch precision (2^p registers) for the "
                    "distinct-users column — the state/accuracy dial; "
                    "a TABLE FORMAT property: maintenance and backfill "
                    "of one table must agree (default: 12)")
    pr.add_argument("--state-partitions", default="auto",
                    type=_state_partitions_arg,
                    help="stateful-shuffle partition count for the "
                    "maintainer (number of state stores; each micro-"
                    "batch pays one delta-file commit per store per "
                    "stateful operator) — size to per-trigger volume; "
                    "captured into the checkpoint at first start. "
                    "'auto' (default): new checkpoints derive from the "
                    "2^p state bound, existing ones resume the captured "
                    "layout; 'session' keeps the session "
                    "spark.sql.shuffle.partitions untouched")
    pr.add_argument("--limit", type=int, default=10)
    pr.add_argument("--timeout", type=int, default=600,
                    help="max seconds for one maintenance pass; exceeding "
                    "it stops the query and exits 1 (checkpoint-resumable)")
    pr.set_defaults(fn=cmd_rollup)

    pz = sub.add_parser(
        "layout",
        help="rewrite a parquet table with hive partitioning, linear "
        "clustering, or multi-dimensional Z-order",
    )
    pz.add_argument("--input", default=None, help="input parquet path")
    pz.add_argument("--table", default=None, help="fixture table name")
    pz.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    pz.add_argument("--output", required=True)
    pz.add_argument("--format", default="parquet")
    pz.add_argument("--partition-by", nargs="+", default=None)
    pz.add_argument("--cluster-by", nargs="+", default=None)
    pz.add_argument("--zorder-by", nargs="+", default=None)
    pz.add_argument("--zorder-files", type=int, default=None)
    pz.add_argument("--max-records-per-file", type=int, default=None)
    pz.set_defaults(fn=cmd_layout)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
