"""Property-based tests (hypothesis): independent random oracles over
the engine's subtlest invariants.

The fixed-fixture suite pins known shapes; these pin SEMANTICS against
an independent implementation on adversarial random inputs — the
reference's own test strategy for operator edge cases (SURVEY §5),
extended with the generative tooling this environment ships:

* as-of join (J7): pandas ``merge_asof`` is the oracle — an
  implementation the union–sort–fill JVM path shares no code with;
* HLL sketch (A5): the register array must be a pure function of the
  key SET (the invariant every rollup tier-derivation rests on), and
  the engine's merge aggregate must equal elementwise-max computed in
  plain Python.

Spark-backed properties cap ``max_examples`` (a Spark job per example)
and set ``derandomize=True``: a suite run is reproducible evidence,
not a coin flip.

``VSP_HYPOTHESIS_SCALE`` multiplies every budget (r13 verdict item 8):
the CI default of 1 keeps suite latency, while a higher scale buys
deeper example coverage. Derandomize stays on at every scale: a bigger
budget widens the deterministic prefix, it never re-rolls it.
"""

from __future__ import annotations

import os


def _ex(n: int) -> int:
    """max_examples budget ``n`` scaled by VSP_HYPOTHESIS_SCALE."""
    return n * max(1, int(os.environ.get("VSP_HYPOTHESIS_SCALE", "1")))

import pandas as pd
import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import given, settings, strategies as st  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from video_stream_processor_spark.operators import hll  # noqa: E402
from video_stream_processor_spark.operators.asof import (  # noqa: E402
    asof_join,
    asof_join_tolerance,
)

# ---------------------------------------------------------------- as-of

KEY = st.integers(min_value=0, max_value=3)
TS = st.integers(min_value=0, max_value=40)
VAL = st.one_of(st.none(), st.integers(min_value=-9, max_value=9))

LEFTS = st.lists(st.tuples(KEY, TS), min_size=1, max_size=20)
RIGHTS = st.lists(st.tuples(KEY, TS, VAL), min_size=0, max_size=20)


def _dedup_rights(rights):
    """Unique (key, ts) right rows: with duplicates the winner is a
    tiebreak question, pinned by the fixed-fixture tiebreak tests —
    the random oracle stays deterministic."""
    seen = {}
    for k, t, v in rights:
        seen[(k, t)] = v
    return [(k, t, v) for (k, t), v in sorted(seen.items())]


def _pandas_asof(lefts, rrows, tolerance=None):
    """Per-row (k, ts, matched_v, matched_rts) via pandas merge_asof —
    the independent oracle (NaN -> None)."""
    lp = pd.DataFrame(lefts, columns=["k", "ts"]).sort_values(
        "ts", kind="mergesort"
    )
    rp = pd.DataFrame(rrows, columns=["k", "rts", "v"])
    rp = rp.astype({"k": "int64", "rts": "int64"})
    rp = rp.sort_values("rts", kind="mergesort")
    exp = pd.merge_asof(
        lp,
        rp,
        left_on="ts",
        right_on="rts",
        by="k",
        direction="backward",
        allow_exact_matches=True,
        tolerance=tolerance,
    )

    def norm(x):
        return None if pd.isna(x) else int(x)

    return sorted(
        (int(r.k), int(r.ts), norm(r.v), norm(r.rts))
        for r in exp.itertuples()
    )


@settings(max_examples=_ex(20), deadline=None, derandomize=True)
@given(lefts=LEFTS, rights=RIGHTS)
def test_asof_join_matches_pandas_merge_asof(spark, lefts, rights):
    """Backward-inclusive match + all-or-nothing struct fill (a matched
    right row whose value is NULL stays NULL, distinguishable from
    no-match via the matched-ts column) equal pandas on random data."""
    rrows = _dedup_rights(rights)
    ldf = spark.createDataFrame(lefts, "k int, ts int")
    rdf = spark.createDataFrame(rrows, "k int, ts int, v int")
    got = sorted(
        (r["k"], r["ts"], r["asof_v"], r["rts"])
        for r in asof_join(
            ldf, rdf, on="k", right_cols=["v"], ts_out="rts"
        )
        .select("k", "ts", "asof_v", "rts")
        .collect()
    )
    assert got == _pandas_asof(lefts, rrows)


@settings(max_examples=_ex(15), deadline=None, derandomize=True)
@given(lefts=LEFTS, rights=RIGHTS, tol=st.integers(min_value=0, max_value=8))
def test_asof_join_tolerance_matches_pandas(spark, lefts, rights, tol):
    """The staleness rule (matches older than left_ts - tolerance are
    nulled) equals pandas merge_asof(tolerance=...) on random data."""
    rrows = _dedup_rights(rights)
    ldf = spark.createDataFrame(lefts, "k int, ts int")
    rdf = spark.createDataFrame(rrows, "k int, ts int, v int")
    got = sorted(
        (r["k"], r["ts"], r["asof_v"], r["rts"])
        for r in asof_join_tolerance(
            ldf,
            rdf,
            on="k",
            tolerance=F.lit(tol),
            right_cols=["v"],
            ts_out="rts",
        )
        .select("k", "ts", "asof_v", "rts")
        .collect()
    )
    assert got == _pandas_asof(lefts, rrows, tolerance=tol)


# ----------------------------------------------------------------- HLL

#: Small alphabet forces hash collisions in the key SPACE (same key in
#: both sets) — the interesting case for set semantics; None exercises
#: the NULL-key drop path.
HLL_KEYS = st.lists(
    st.one_of(st.none(), st.text(alphabet="abcdef", min_size=0, max_size=4)),
    max_size=30,
)
HLL_P = 8  # 256 registers: small arrays, linear-counting regime


@settings(max_examples=_ex(12), deadline=None, derandomize=True)
@given(a=HLL_KEYS, b=HLL_KEYS)
def test_hll_registers_pure_function_of_key_set(spark, a, b):
    """The invariant every rollup tier-derivation rests on:
    sketch(A) merged with sketch(B) is BYTE-identical to sketch(A++B),
    regardless of how keys are batched — verified three ways on random
    multisets (engine merge aggregate, plain-Python elementwise max,
    direct sketch of the concatenation), plus the estimate's accuracy
    in the linear-counting regime."""
    p = HLL_P
    # sentinel NULL row per tag: guarantees each tag groups to a row
    # even for an empty multiset, and pins NULL-key drop semantics
    rows = (
        [("a", k) for k in a]
        + [("b", k) for k in b]
        + [("u", k) for k in a + b]
        + [("a", None), ("b", None), ("u", None)]
    )
    df = spark.createDataFrame(rows, "tag string, k string")
    stage1 = (
        df.withColumn("_b", hll.bucket_col("k", p=p))
        .withColumn("_r", hll.rho_col("k", p=p))
        .groupBy("tag", "_b")
        .agg(F.max("_r").alias("_r"))
    )
    out = (
        stage1.groupBy("tag")
        .agg(hll.register_map_agg("_b", "_r").alias("_mp"))
        .select(
            "tag",
            hll.map_to_registers("_mp", p=p).alias("regs"),
            hll.estimate_col(
                hll.map_to_registers("_mp", p=p), p=p
            ).alias("est"),
        )
        .collect()
    )
    regs = {r["tag"]: r["regs"] for r in out}
    est = {r["tag"]: r["est"] for r in out}

    # plain-Python oracle: merge IS elementwise max, and the array is a
    # pure function of the key set
    assert [max(x, y) for x, y in zip(regs["a"], regs["b"])] == regs["u"]

    # engine merge aggregate agrees byte-for-byte
    mdf = spark.createDataFrame(
        [(regs["a"],), (regs["b"],)], "regs array<tinyint>"
    )
    merged = mdf.agg(hll.merge_registers_agg("regs", p=p).alias("m"))
    assert merged.collect()[0]["m"] == regs["u"]

    # estimate: a SMOKE bound, not an accuracy claim — at tiny n the
    # linear counter's bucket-collision variance is real (hypothesis
    # found 4 keys landing in 2 of 256 buckets → est 2), so the slack
    # is wide; what it still cannot pass is a broken rho/bucket path
    # (always-0 rho → est 0; single-bucket hash → est ~1 at any n).
    # Accuracy proper is pinned by the measured sweeps cited in
    # operators/hll.py's docstring and the fixed-fixture estimate tests.
    n_true = len({k for k in a + b if k is not None})
    assert abs(est["u"] - n_true) <= max(4, 0.35 * n_true)


def test_hll_estimate_accuracy_at_larger_n(spark):
    """The accuracy complement to the smoke bound above (r13 advisor:
    with n_true <= ~30 the 0.35n slack passes almost any positive
    estimate — only the sweep citations carried a real accuracy
    claim). At n=200 distinct keys against m=256 registers the linear
    counter is past the tiny-n collision-variance regime and its
    expected error is a few percent; a deterministic fixture (the hash
    is xxhash64, fixed seed) must land within 10%, at both p=8 and the
    default p."""
    from video_stream_processor_spark.operators import hll as hll_mod

    keys = [(f"acc-key-{i}",) for i in range(200)]
    df = spark.createDataFrame(keys, "k string")
    for p in (HLL_P, hll_mod.DEFAULT_P):
        est = (
            df.withColumn("_b", hll.bucket_col("k", p=p))
            .withColumn("_r", hll.rho_col("k", p=p))
            .groupBy("_b")
            .agg(F.max("_r").alias("_r"))
            .agg(hll.register_map_agg("_b", "_r").alias("_mp"))
            .select(
                hll.estimate_col(
                    hll.map_to_registers("_mp", p=p), p=p
                ).alias("est")
            )
            .collect()[0]["est"]
        )
        assert abs(est - 200) <= 20, f"p={p}: est {est} off by >10% at n=200"


# --------------------------------------------- MinHash LSH exact dups

from video_stream_processor_spark.llm import dedup as dd  # noqa: E402

WORDS = ["alpha", "beta", "gamma", "delta", "eps"]
DOC = st.lists(st.sampled_from(WORDS), min_size=2, max_size=6).map(" ".join)


@settings(max_examples=_ex(10), deadline=None, derandomize=True)
@given(texts=st.lists(DOC, min_size=1, max_size=8), dup_of=st.integers(0, 7))
def test_minhash_lsh_always_pairs_exact_duplicates(spark, texts, dup_of):
    """An exact-duplicate pair can NEVER be missed by the banded-LSH
    path: identical shingle sets give identical signatures, hence the
    same bucket in every band, hence candidacy; exact verification
    then scores Jaccard 1.0 >= any threshold. Recall on exact dups is
    1 by construction — this pins the construction on random corpora
    (the fixed-fixture recall test covers the probabilistic near-dup
    band)."""
    dup_text = texts[dup_of % len(texts)]
    rows = [(i, t) for i, t in enumerate(texts)]
    dup_id = len(texts)
    rows.append((dup_id, dup_text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    a = dup_of % len(texts)
    assert (a, dup_id, 1.0) in pairs


# ------------------------------- sessionization vs Python + sliced twin

from video_stream_processor_spark.streaming.analytics import (  # noqa: E402
    session_stats,
    session_stats_sliced,
)

EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user_id
        st.integers(min_value=0, max_value=36000),  # epoch seconds
        st.integers(min_value=0, max_value=79),  # value in 0.25 steps
    ),
    min_size=1,
    max_size=25,
)

GAP_S = 1800  # "30 minutes"


def _python_sessions(events):
    """Independent sessionization: per user, sort by ts, split when the
    gap is STRICTLY greater than GAP_S (an event exactly GAP_S after
    the last one merges — the probe-verified session_window rule);
    window = [first_ts, last_ts + GAP_S)."""
    out = []
    by_user = {}
    for u, t, q in events:
        by_user.setdefault(u, []).append((t, q * 0.25))
    for u, evs in by_user.items():
        evs.sort()
        start, last, n, total = evs[0][0], evs[0][0], 0, 0.0
        for t, v in evs:
            if t - last > GAP_S:
                out.append((start, last + GAP_S, u, n, round(total, 2)))
                start, n, total = t, 0, 0.0
            last, n, total = t, n + 1, total + v
        out.append((start, last + GAP_S, u, n, round(total, 2)))
    return sorted(out)


@settings(max_examples=_ex(12), deadline=None, derandomize=True)
@given(events=EVENTS)
def test_sessionization_matches_python_and_sliced_twin(spark, events):
    """Batch session_stats equals an independent plain-Python
    sessionizer on random event streams, AND the time-slice-and-stitch
    hot-user escape (session_stats_sliced) equals both — the stitch
    pass's merge rule composes back to global sessionization on
    arbitrary slice-boundary-straddling inputs, not just the fixture's."""
    df = spark.createDataFrame(
        events, "user_id int, t long, q int"
    ).select(
        "user_id",
        F.col("t").cast("timestamp").alias("ts"),
        (F.col("q") * 0.25).alias("value"),
    )
    expected = _python_sessions(events)

    def rows_of(res):
        return sorted(
            (
                r["sess_start"],
                r["sess_end"],
                r["user_id"],
                r["n_events"],
                float(r["sum_value"]),
            )
            for r in res.collect()
        )

    assert rows_of(session_stats(df, gap="30 minutes")) == expected
    assert (
        rows_of(session_stats_sliced(df, gap="30 minutes", time_slice="1 hour"))
        == expected
    )
