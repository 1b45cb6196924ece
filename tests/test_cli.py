"""CLI surface: the reference-parity invocation plus the train/serve
pair (the reference's own CLI is a single `python video_processor.py`
run — video_processor.py:394-417; `station` mirrors it, the rest is
engine surface the reference lacks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_stream_processor_spark.__main__ import main
from video_stream_processor_spark.io import load_table


def test_cli_train_then_score_quality(spark, sf_dir, tmp_path, capsys):
    """train-quality persists an artifact; score-quality serves it in a
    separate invocation and writes a scored parquet with a keep flag."""
    model = str(tmp_path / "model")
    out = str(tmp_path / "scored")
    assert main([
        "train-quality", "--sf-dir", sf_dir, "--model-path", model,
        "--iters", "6",
    ]) == 0
    assert main([
        "score-quality", "--sf-dir", sf_dir, "--model-path", model,
        "--output", out,
    ]) == 0
    scored = spark.read.parquet(out)
    assert set(scored.columns) == {
        "doc_id", "lang", "source", "quality_score", "keep"
    }
    n = scored.count()
    assert n > 0
    n_keep = scored.filter("keep").count()
    assert 0 < n_keep < n  # the model separates, both classes present


def test_cli_list_and_query(capsys):
    """`list` names every registered query; `query` rejects unknowns."""
    assert main(["list"]) == 0
    names = [
        line.split("\t")[0]
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert "q1_pricing_summary" in names
    assert len(names) == 50
    assert main(["query", "no_such_query"]) == 1


def test_cli_prepare_corpus(spark, sf_dir, tmp_path):
    """End-to-end shard prep: quality filter -> near-dup survivors ->
    chunk with text -> hive-partitioned write. The output must be
    lang-partitioned, every chunk non-empty, and strictly fewer docs
    than went in (both filters bite on the fixture corpus)."""
    out = str(tmp_path / "shards")
    assert main(["prepare-corpus", "--sf-dir", sf_dir, "--output", out]) == 0
    shards = spark.read.parquet(out)
    assert "lang" in shards.columns and "chunk_text" in shards.columns
    n_docs_in = load_table(spark, sf_dir, "documents").count()
    n_docs_out = shards.select("doc_id").distinct().count()
    assert 0 < n_docs_out < n_docs_in
    assert shards.filter("chunk_text = '' OR chunk_tokens = 0").count() == 0
    # hive partitioning actually materialized on disk
    import os as _os

    assert any(d.startswith("lang=") for d in _os.listdir(out))


def test_cli_prepare_corpus_packed(spark, sf_dir, tmp_path):
    """--pack-tokens assigns chunks to ~fixed-token training packs: per
    (lang, pack) the token total stays under budget + one window (only
    the pack's last chunk may overflow), and pack ids are dense from 0."""
    out = str(tmp_path / "packed")
    budget, window = 512, 64
    assert main([
        "prepare-corpus", "--sf-dir", sf_dir, "--output", out,
        "--pack-tokens", str(budget), "--window", str(window),
    ]) == 0
    from pyspark.sql import functions as F

    shards = spark.read.parquet(out)
    per_pack = shards.groupBy("lang", "pack_id").agg(
        F.sum("chunk_tokens").alias("tok")
    )
    assert per_pack.filter(F.col("tok") > budget + window).count() == 0
    assert per_pack.filter("pack_id = 0").count() > 0


def test_cli_rollup_maintain_backfill_read(spark, sf_dir, tmp_path, capsys):
    """The rollup lifecycle as three invocations: one availableNow
    maintenance pass (cron-able), an idempotent backfill, and the
    serving read over live ∪ backfill."""
    live = str(tmp_path / "live")
    bf = str(tmp_path / "bf")
    assert main(["rollup", "--sf-dir", sf_dir, "--table-dir", live]) == 0
    assert "maintenance pass complete" in capsys.readouterr().out
    # a first start on a fresh checkpoint sizes from the constant rule:
    # no source pre-scan, so no sizing sidecar beside the checkpoint
    import os

    assert not os.path.exists(f"{live}_ckpt_sizing")
    assert main(["rollup", "--sf-dir", sf_dir, "--table-dir", bf, "--backfill"]) == 0
    assert main(
        ["rollup", "--table-dir", live, "--read", "--backfill-dir", bf, "--limit", "3"]
    ) == 0
    out = capsys.readouterr().out
    assert "rollup rows served" in out
    # served view must cover at least the backfill's window count (the
    # backfill sees every window; live lacks only the open tail)
    n_live = spark.read.parquet(live).count()
    n_bf = spark.read.parquet(bf).count()
    assert 0 < n_live <= n_bf
    # an empty result is exit code 1, not a traceback: --upto-epoch 0
    # filters every window out of the backfill
    empty = str(tmp_path / "bf_empty")
    assert main(
        ["rollup", "--sf-dir", sf_dir, "--table-dir", empty, "--backfill", "--upto-epoch", "0"]
    ) == 1
    # compaction + tiered read close the lifecycle
    base = str(tmp_path / "base")
    assert main(["rollup", "--table-dir", live, "--compact", "--base-dir", base]) == 0
    assert main(
        ["rollup", "--table-dir", live, "--read", "--base-dir", base, "--limit", "2"]
    ) == 0
    n_tiered = spark.read.parquet(base).count()
    assert n_tiered == n_live
    assert main(["rollup", "--table-dir", live, "--compact"]) == 1  # missing --base-dir


def test_cli_layout_zorder_roundtrip(spark, sf_dir, tmp_path, capsys):
    """layout --zorder-by rewrites a fixture table losslessly through
    the sink's Morton path; bad flag combinations exit 1 with a
    message instead of a traceback."""
    out = str(tmp_path / "zlaid")
    assert main([
        "layout", "--table", "lineitem", "--sf-dir", sf_dir,
        "--output", out, "--zorder-by", "l_partkey", "l_suppkey",
        "--zorder-files", "8",
    ]) == 0
    src = load_table(spark, sf_dir, "lineitem")
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    assert set(back.columns) == set(src.columns)
    # exactly one of --input/--table
    assert main(["layout", "--output", out]) == 1
    # mutually exclusive layouts fail loudly, exit-code not traceback
    assert main([
        "layout", "--table", "lineitem", "--sf-dir", sf_dir,
        "--output", out, "--cluster-by", "l_partkey",
        "--zorder-by", "l_suppkey",
    ]) == 1


def test_cli_layout_in_place_staged_rewrite(spark, sf_dir, tmp_path, capsys):
    """--output == --input triggers the staged rewrite (temp write ->
    verify -> atomic swap): content row-identical, layout applied,
    no scratch dirs left behind."""
    import os

    src = load_table(spark, sf_dir, "nation")
    tbl = str(tmp_path / "nation_tbl")
    src.write.parquet(tbl)
    before = sorted(map(tuple, spark.read.parquet(tbl).collect()))

    assert main([
        "layout", "--input", tbl, "--output", tbl,
        "--cluster-by", "n_regionkey",
    ]) == 0
    assert "rewrote" in capsys.readouterr().out
    after = sorted(map(tuple, spark.read.parquet(tbl).collect()))
    assert after == before
    assert not os.path.exists(tbl + ".__rewrite_tmp__")
    assert not os.path.exists(tbl + ".__rewrite_bak__")


def test_cli_layout_in_place_partition_by_long_col(spark, sf_dir, tmp_path, capsys):
    """r7-advisor repro: in-place rewrite that ADDS hive partitioning
    on an integral column. The staged copy's partition values are
    re-inferred on read-back (bigint -> int) and xxhash64 hashes int
    and long differently — verification must read the staged copy with
    the ORIGINAL schema so identical content verifies and the swap
    lands. Also: a verified 0-row in-place rewrite exits 0, not 1."""
    import os

    src = load_table(spark, sf_dir, "nation")  # n_regionkey is bigint
    tbl = str(tmp_path / "nation_tbl")
    src.write.parquet(tbl)
    before = sorted(map(tuple, spark.read.parquet(tbl).collect()))

    assert main([
        "layout", "--input", tbl, "--output", tbl,
        "--partition-by", "n_regionkey",
    ]) == 0
    assert "rewrote" in capsys.readouterr().out
    # hive layout actually applied...
    assert any(
        d.startswith("n_regionkey=") for d in os.listdir(tbl)
    ), os.listdir(tbl)
    # ...content identical once the partition column is read back long
    after_df = spark.read.parquet(tbl)
    after = sorted(
        map(
            tuple,
            after_df.select(
                *[F.col(c).cast(dict(src.dtypes)[c]) for c in src.columns]
            ).collect(),
        )
    )
    assert after == before
    assert not os.path.exists(tbl + ".__rewrite_tmp__")
    assert not os.path.exists(tbl + ".__rewrite_bak__")

    # empty table: the rewrite verifies 0 == 0 rows and succeeds
    empty = str(tmp_path / "empty_tbl")
    src.limit(0).write.parquet(empty)
    assert main([
        "layout", "--input", empty, "--output", empty,
        "--cluster-by", "n_regionkey",
    ]) == 0
    assert spark.read.parquet(empty).count() == 0


def test_in_place_rewrite_crash_leaves_original_intact(spark, tmp_path, monkeypatch):
    """Crash injection: die after the staged write, before the swap —
    the original must keep serving, and the scratch dir is cleaned."""
    import os

    from video_stream_processor_spark.pipeline import sink as sink_mod

    tbl = str(tmp_path / "t")
    spark.range(100).withColumn("v", F.col("id") * 2).write.parquet(tbl)
    before = sorted(map(tuple, spark.read.parquet(tbl).collect()))

    def boom(tmp, final, bak):
        raise RuntimeError("injected crash before swap")

    monkeypatch.setattr(sink_mod, "_swap_dirs", boom)
    with pytest.raises(RuntimeError, match="injected"):
        sink_mod.rewrite_in_place(
            spark, tbl, lambda d, p: d.write.parquet(p)
        )
    assert sorted(map(tuple, spark.read.parquet(tbl).collect())) == before
    assert not os.path.exists(tbl + ".__rewrite_tmp__")

    # a corrupting write_fn is refused at verification, original intact
    with pytest.raises(sink_mod.SinkVerificationError, match="verification"):
        sink_mod.rewrite_in_place(
            spark, tbl, lambda d, p: d.limit(10).write.parquet(p)
        )
    assert sorted(map(tuple, spark.read.parquet(tbl).collect())) == before

    # a leftover backup dir (crash between the two renames) blocks a
    # new rewrite instead of clobbering the evidence
    os.makedirs(tbl + ".__rewrite_bak__")
    monkeypatch.undo()
    with pytest.raises(sink_mod.SinkVerificationError, match="backup"):
        sink_mod.rewrite_in_place(
            spark, tbl, lambda d, p: d.write.parquet(p)
        )
