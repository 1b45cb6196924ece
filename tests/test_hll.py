"""Deterministic mergeable HLL sketch (operators/hll.py).

The property the module exists for — and that hll_sketch_agg
(Datasketches) was probe-measured to lack — is that the register
array is a pure function of the key SET: byte-identical across
partitionings, merge orders, and derivation paths. These tests pin
that, plus estimate accuracy against exact counts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from video_stream_processor_spark.operators import hll


def _sketch(df, key="u", group=None):
    g = [group] if group else []
    s1 = (
        df.withColumn("_b", hll.bucket_col(key))
        .withColumn("_r", hll.rho_col(key))
        .groupBy(*g, "_b")
        .agg(F.max("_r").alias("_r"))
    )
    s2 = s1.groupBy(*g).agg(hll.register_map_agg("_b", "_r").alias("_mp"))
    return s2.select(
        *g,
        hll.map_to_registers("_mp").alias("regs"),
        hll.estimate_col(hll.map_to_registers("_mp")).alias("est"),
    )


def test_registers_deterministic_across_partitionings(spark):
    """Same key set -> byte-identical registers under 1, 7, and 32
    partitions (the invariant Datasketches sparse mode breaks)."""
    df = spark.range(5000).select(F.col("id").alias("u"))
    a = _sketch(df.coalesce(1)).first()
    b = _sketch(df.repartition(7)).first()
    c = _sketch(df.repartition(32)).first()
    assert a["regs"] == b["regs"] == c["regs"]
    assert a["est"] == b["est"] == c["est"]


def test_merge_equals_direct_exactly(spark):
    """Element-wise max merge of per-part sketches == the sketch of
    the union, byte for byte — the re-aggregability contract."""
    df = spark.range(20000).select(
        F.col("id").alias("u"), (F.col("id") % 5).alias("part")
    )
    parts = _sketch(df, group="part")
    merged = parts.agg(hll.merge_registers_agg("regs").alias("regs")).select(
        F.col("regs"), hll.estimate_col("regs").alias("est")
    ).first()
    direct = _sketch(df).first()
    assert merged["regs"] == direct["regs"]
    assert merged["est"] == direct["est"]
    # idempotent: merging a sketch with itself changes nothing
    twice = (
        parts.unionByName(parts)
        .agg(hll.merge_registers_agg("regs").alias("regs"))
        .first()
    )
    assert twice["regs"] == direct["regs"]


def test_null_keys_ignored(spark):
    """NULL keys contribute nothing — count_distinct semantics."""
    df = spark.createDataFrame([(1,), (2,), (None,), (None,)], "u long")
    r = _sketch(df).first()
    assert r["est"] == 2
    only_null = _sketch(df.filter(F.col("u").isNull())).first()
    assert only_null["est"] == 0
    assert all(v == 0 for v in only_null["regs"])


def test_estimate_accuracy_200_groups_one_pass(spark):
    """Property test, fleet-style (one DataFrame, one collect): 200
    groups with exact cardinalities from 3 to ~4000 — every estimate
    within the ±10% serving bound, and within ±2% outside the
    documented transition valley (est <= 2.5m)."""
    m = 1 << hll.DEFAULT_P
    df = spark.range(200_000).select(
        F.pmod(F.col("id"), F.lit(200)).alias("g"),
        F.col("id").alias("raw"),
    )
    # group g sees min(rows_g, 3*(g+1) + g*17) distinct users
    df = df.withColumn(
        "u", F.pmod(F.col("raw"), (F.col("g") + 1) * 3 + F.col("g") * 17)
    )
    exact = df.groupBy("g").agg(F.count_distinct("u").alias("exact"))
    est = _sketch(df, group="g").select("g", "est")
    rows = exact.join(est, "g").collect()
    assert len(rows) == 200
    errs = []
    for r in rows:
        diff = abs(r["est"] - r["exact"])
        err = diff / max(r["exact"], 1)
        assert err <= 0.10, (r["g"], r["exact"], r["est"])
        if r["exact"] <= 2.5 * m:
            # linear-counting region: ~1% rse — cap the max at ~3.5
            # sigma (a 2% bound on a 200-group max is a coin flip) and
            # allow one bucket collision absolute on tiny groups
            assert err <= 0.04 or diff <= 2, (r["g"], r["exact"], r["est"])
            errs.append(err)
    # the real accuracy claim is the population, not the max
    assert sum(errs) / len(errs) <= 0.015


def test_small_cardinalities_exact(spark):
    """Linear counting is exact-up-to-register-collisions for tiny sets
    — the serving table's most common case (small per-window groups).
    Keys 0..63 happen to land in distinct registers; any two keys that
    share a register count once, whatever the group size: 2397 and
    4869 share register 323, so that pair estimates 1 (-50%)."""
    for n in (1, 2, 5, 17, 64):
        df = spark.range(n).select(F.col("id").alias("u"))
        est = _sketch(df).first()["est"]
        assert abs(est - n) <= (1 if n >= 64 else 0), (n, est)
    pair = spark.createDataFrame([(2397,), (4869,)], "u long")
    assert _sketch(pair).first()["est"] == 1


def test_merge_raises_on_null_sketch(spark):
    """r12 review: collect_list silently SKIPS null arrays, so the
    per-element size check alone never sees a NULL sketch on the merge
    path — a NULL-sketch row's events would join the coarse row while
    its users silently vanish from the merged sketch. The aggregate
    now detects the null count and raises (the documented 'NULL means
    format drift' contract, previously honored only by the estimate
    path)."""
    good = spark.range(2).select(
        F.lit("g").alias("g"),
        F.expr("array_repeat(cast(1 as tinyint), 256)").alias("regs"),
    )
    # sanity: all-non-null merge still works
    merged = good.groupBy("g").agg(hll.merge_registers_agg("regs", p=8).alias("m"))
    assert merged.select(F.size("m")).first()[0] == 256

    with_null = spark.range(2).select(
        F.lit("g").alias("g"),
        F.when(
            F.col("id") == 0, F.expr("array_repeat(cast(1 as tinyint), 256)")
        ).alias("regs"),  # id=1 -> NULL sketch
    )
    with pytest.raises(Exception, match="NULL sketch"):
        with_null.groupBy("g").agg(
            hll.merge_registers_agg("regs", p=8).alias("m")
        ).collect()


def test_r15_fast_forms_equal_first_cut_forms(spark):
    """r15 optimization regression pin: `map_to_registers` (now sorted-
    entry zero-run concatenation) and `estimate_col` (now one let-bound
    (inv_sum, zeros) fold) must stay element-/value-identical to the
    first-cut per-index/map-lookup forms they replaced — including the
    empty-map, single-entry, dense, and NULL-map edges. The old forms
    are restated inline here as the executable spec."""
    import random

    p = 6
    m = 1 << p

    def old_map_to_registers(mp, p):
        return F.transform(
            F.sequence(F.lit(0), F.lit((1 << p) - 1)),
            lambda i: F.coalesce(F.col(mp)[i], F.lit(0)).cast("tinyint"),
        )

    def old_estimate(regs, p):
        checked = hll._checked_registers(F.col(regs), p)
        m = 1 << p
        alpha = 0.7213 / (1 + 1.079 / m)
        inv = F.aggregate(
            checked,
            F.lit(0.0),
            lambda a, x: a + F.pow(F.lit(2.0), -x.cast("double")),
        )
        zeros = F.size(F.filter(checked, lambda x: x == 0))
        raw = F.lit(alpha * m * m) / inv
        lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
        return F.round(F.when(zeros > 0, F.least(lc, raw)).otherwise(raw)).cast(
            "long"
        )

    rnd = random.Random(7)
    rows = [
        (n, {b: rnd.randint(1, 59) for b in rnd.sample(range(m), n)})
        for n in (0, 1, 3, 17, m - 1, m)
    ]
    df = spark.createDataFrame(rows, "n int, mp map<int,int>")
    chk = df.select(
        "n",
        old_map_to_registers("mp", p).alias("old_regs"),
        hll.map_to_registers("mp", p=p).alias("new_regs"),
    )
    assert chk.filter(F.col("old_regs") != F.col("new_regs")).count() == 0
    est = chk.select(
        old_estimate("old_regs", p).alias("e_old"),
        hll.estimate_col("new_regs", p=p).alias("e_new"),
    )
    assert est.filter(F.col("e_old") != F.col("e_new")).count() == 0
    # NULL map -> all-zero registers (old coalesce semantics preserved)
    nul = spark.range(1).select(F.lit(None).cast("map<int,int>").alias("mp"))
    regs = nul.select(hll.map_to_registers("mp", p=4).alias("r")).first()["r"]
    assert regs == [0] * 16
