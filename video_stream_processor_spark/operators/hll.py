"""Deterministic, mergeable HLL sketch as a composition of built-in
DataFrame ops — the re-aggregable distinct-count column for persisted
rollup tiers (A5 at serving scale).

Why not ``hll_sketch_agg`` (Datasketches, Spark >= 3.5)? Probe-measured
on this build: its low-cardinality (sparse-mode) estimates depend on
HOW the data was partitioned/merged — 500 distinct items estimated 500
directly, 496 via a two-way union, 495 under repartition(13). A rollup
table's core invariant is that live (streaming, micro-batch merge
order) and backfilled (batch) partitions are VALUE-IDENTICAL, and that
a coarser tier derived by merging sketches equals the tier computed
directly from facts; Datasketches breaks both at exactly the group
sizes a fixture exercises. This module instead keeps the classic HLL
register array (Flajolet et al. 2007) explicit:

* register index = low ``p`` bits of xxhash64(key);
* register value = max over the group of rho(remaining 64-p bits)
  (position of the first 1-bit, i.e. leading zeros + 1);
* merge = element-wise max.

Max is commutative, associative, and idempotent, so the register array
is a pure function of the SET of keys — byte-identical regardless of
partitioning, micro-batch boundaries, merge tree shape, or repeated
merges. Estimates are then a deterministic function of the registers
(raw HLL with linear counting for the small range — no bias tables).

Small-range bound: linear counting counts OCCUPIED registers, so keys
that share a register count once. A group of n keys comes out short
by one per shared register, and one shared register already costs
1/n: a group of fewer than 10 keys misses the +-10% serving bound
whenever two of its keys collide, which at p=12 happens with
probability ~n(n-1)/2m (0.7% at n=8; e.g. bigint keys 2397 and 4869
share register 323). Groups of 10-19 keys need two collisions to miss
(<0.1%), and from ~30 keys up a miss is under 1e-5. Exact counting of
small groups would close this, at the cost of a rollup format change.

Scale shape: the sketch build is a two-phase aggregation —
``groupBy(*keys, bucket)`` max-rho partials, then ``groupBy(*keys)``
array assembly. Map-side partial aggregation caps the wire at
min(distinct keys in the partition, 2^p) rows per (group, partition):
the same shuffle shape as Spark's own exact count_distinct expansion,
with a hard 2^p cap the exact form lacks. All expressions are
JVM-side (whole-stage codegen); rho uses the exact integer path
``bitlength = length(bin(w))`` — no float log2 edge cases.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Default precision: m = 2^12 = 4096 registers, relative standard
#: error 1.04/sqrt(m) ~= 1.6%. Max register value = 64 - 12 + 1 = 53,
#: so registers fit a tinyint and a sketch is a 4 KiB array row —
#: serving-table weight, not fact-table weight.
DEFAULT_P = 12


def bucket_col(key: Column | str, p: int = DEFAULT_P) -> Column:
    """Register index: low p bits of xxhash64(key); NULL keys stay
    NULL (distinct-count semantics ignore NULLs, like
    count_distinct / approx_count_distinct)."""
    key = F.col(key) if isinstance(key, str) else key
    return F.when(
        key.isNotNull(), F.xxhash64(key).bitwiseAND(F.lit((1 << p) - 1))
    ).cast("int")


def rho_col(key: Column | str, p: int = DEFAULT_P) -> Column:
    """rho = 1 + leading zeros of the top 64-p hash bits. Exact
    integer path: ``bin(w)`` renders w without leading zeros, so
    bitlength(w) = length(bin(w)) and rho = (64-p) - bitlength + 1;
    w = 0 (all 64-p bits zero) gets the sentinel 64-p+1."""
    key = F.col(key) if isinstance(key, str) else key
    w = F.shiftrightunsigned(F.xxhash64(key), p)
    width = 64 - p
    rho = F.when(w == 0, F.lit(width + 1)).otherwise(
        F.lit(width + 1) - F.length(F.bin(w))
    )
    return F.when(key.isNotNull(), rho).cast("int")


def register_map_agg(
    bucket: str = "_hll_bucket", rho: str = "_hll_rho"
) -> Column:
    """Final-grain aggregation expression collecting the per-(group,
    bucket) max-rho rows (the stage-1 output of the two-phase build)
    into a bucket->rho map. Keys are unique per group by construction,
    so collect_list's nondeterministic order cannot affect the map;
    NULL buckets (NULL keys) are dropped. Convert to the canonical
    array with `map_to_registers` in the post-aggregation select (a
    lambda cannot wrap an aggregate, so assembly is split in two)."""
    pairs = F.filter(
        F.collect_list(F.struct(F.col(bucket).alias("b"), F.col(rho).alias("r"))),
        lambda s: s.getField("b").isNotNull(),
    )
    return F.map_from_entries(pairs)


def _let(value: Column, body) -> Column:
    """Let-bind ``value`` as a higher-order-function lambda variable so
    ``body`` can reference it many times at one evaluation's cost.

    Why this exists (r15 optimization round, guide §1.2/§4): Catalyst's
    higher-order functions (transform/aggregate/filter) are evaluated
    interpreted (CodegenFallback) and whole-stage codegen's common-
    subexpression elimination does not reach into them — an expensive
    array expression referenced k times in one projection is computed
    k times. Measured on rollup_stats at sf0.1 (3600 groups, p=12):
    the 4096-slot register assembly re-evaluated per reference made the
    estimate projection 35 s; let-binding + the O(n) assembly below
    brought the whole query to ~1 s with byte-identical output.
    ``transform`` evaluates its input array once and hands elements to
    the lambda as bound variables, so wrapping the value in a 1-element
    array is a zero-copy let."""
    return F.get(F.transform(F.array(value), body), 0)


def map_to_registers(mp: Column | str, p: int = DEFAULT_P) -> Column:
    """bucket->rho map to the canonical fixed-order register array
    (absent buckets = 0). Fixed iteration order makes the bytes a pure
    function of the map contents.

    Built by sorted-entry zero-run concatenation — O(entries + 2^p)
    array construction — instead of the first-cut per-index map lookup
    (``transform(sequence(0..m-1), i -> mp[i])``), whose GetMapValue
    linear scan made it O(entries x 2^p) interpreted work per group
    (r15 optimization: 5.5 s of a 40 s rollup_stats pass at sf0.1).
    Output is element-identical: same length, same tinyint values."""
    mp = F.col(mp) if isinstance(mp, str) else mp
    m = 1 << p
    zero = F.lit(0).cast("tinyint")

    def build(entries: Column) -> Column:
        # gap of zeros before each entry, then the entry's rho; keys
        # are unique ints in [0, m) so sorting by (key, value) structs
        # orders by key and every gap is >= 0
        runs = F.transform(
            entries,
            lambda e, i: F.concat(
                F.array_repeat(
                    zero,
                    e.getField("key")
                    - F.coalesce(
                        F.get(entries, i - 1).getField("key"), F.lit(-1)
                    )
                    - 1,
                ),
                F.array(e.getField("value").cast("tinyint")),
            ),
        )
        last_key = F.coalesce(
            F.get(entries, F.size(entries) - 1).getField("key"), F.lit(-1)
        )
        return F.concat(
            F.flatten(runs), F.array_repeat(zero, F.lit(m - 1) - last_key)
        )

    # NULL map -> all-zero registers, matching the old coalesce(mp[i], 0)
    # semantics (unreachable from shipped writers, which always emit a
    # map; kept for exact behavioral parity)
    return F.coalesce(
        _let(F.array_sort(F.map_entries(mp)), build),
        F.array_repeat(zero, m),
    )


def _checked_registers(regs: Column, p: int) -> Column:
    """Fail LOUDLY on a register array whose size is not 2^p.

    ``p`` is part of the rollup table format: merging or estimating a
    sketch at the wrong precision would otherwise be silently wrong —
    ``zip_with`` pads the shorter array with NULLs and ``greatest``
    ignores them, so a p=8 tier merged at p=12 yields top registers
    stuck at 0 and a confident underestimate. A NULL sketch raises
    too (rollup writers always emit one; NULL means format drift)."""
    m = 1 << p
    return F.when(F.size(regs) == m, regs).otherwise(
        F.raise_error(
            F.concat(
                F.lit("hll: register array size "),
                F.coalesce(F.size(regs).cast("string"), F.lit("NULL")),
                F.lit(f" != 2^p = {m}; the sketch was written at a "
                      "different precision — p is part of the rollup "
                      "table format (operators/hll.py)"),
            )
        )
    )


def merge_registers_agg(regs: str, p: int = DEFAULT_P) -> Column:
    """Aggregation expression merging register arrays (element-wise
    max) — how a coarser rollup tier derives its sketch from a finer
    one without rescanning facts. Idempotent and order-independent,
    so re-running a derivation converges byte-identically. Raises on
    a size-mismatched input array (wrong ``p``) — see
    `_checked_registers` — and on a NULL input sketch: collect_list
    silently SKIPS null arrays (probe-verified on this build), so the
    per-element check alone would let a NULL-sketch row's events and
    cents into the coarse row while its users silently vanish from
    the merged sketch (r12 review); the null count is detected at the
    aggregate level instead."""
    m = 1 << p
    merged = F.aggregate(
        F.collect_list(regs),
        F.expr(f"array_repeat(cast(0 as tinyint), {m})"),
        lambda acc, x: F.zip_with(
            acc, _checked_registers(x, p), lambda a, b: F.greatest(a, b)
        ),
    )
    return F.when(F.count(regs) == F.count(F.lit(1)), merged).otherwise(
        F.raise_error(
            F.concat(
                (F.count(F.lit(1)) - F.count(regs)).cast("string"),
                F.lit(
                    " NULL sketch(es) in an hll merge group — rollup "
                    "writers always emit a sketch; NULL means format "
                    "drift (operators/hll.py)"
                ),
            )
        )
    )


def estimate_col(regs: Column | str, p: int = DEFAULT_P) -> Column:
    """Distinct-count estimate from a register array — deterministic
    given the registers, hence identical across execution modes and
    derivation paths.

    Estimator: ``min(linear counting, raw HLL)`` while any register is
    zero, raw HLL (alpha_m * m^2 / sum(2^-M_j)) after. Both estimators
    are positively biased through the 2.5m-6m transition (measured at
    p=12: raw peaks at +15% low / +5.5% mid, LC at +14% past 5m), so
    the min dominates either alone and needs no empirical bias tables;
    worst measured error across the 0-500k sweep is +5.5% (n ~= 6m),
    <=1% outside the transition. The exception is the smallest groups
    (module docstring): under 10 keys, one shared register is more
    than 10% of the count.

    Raises on a size-mismatched register array (wrong ``p``): the
    estimator's alpha/m constants are precision-specific, so a silent
    answer would be a confidently wrong one — see `_checked_registers`."""
    regs = F.col(regs) if isinstance(regs, str) else regs
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)

    # The register array is let-bound (see _let) so it is evaluated
    # exactly once per row — the first-cut form referenced the
    # (interpreted, CSE-less) register expression from inv_sum, zeros,
    # and the size check independently, which re-ran the whole
    # 2^p-slot assembly per reference (r15 optimization: 35 s -> ~1 s
    # on stream_window_counts' rollup legs at sf0.1). Over the BOUND
    # array, (inv_sum, zeros) come from two primitive-accumulator
    # passes — a plain double fold plus size(filter(=0)) — rather than
    # r15's single struct-accumulator fold: the per-element struct
    # allocation made the one-pass form 2.1x SLOWER than two simple
    # passes (r16 probe at sf0.1: 3.9 s -> 1.8 s over 3600 sketches;
    # bit-identity over every fixture group verified — the double fold
    # adds 2^-M_j in the same index order, zeros is an integer count).
    # inv_sum and zeros are themselves let-bound: zeros is referenced
    # twice below and nothing CSEs across interpreted HOF boundaries.
    def est_of(inv_sum: Column, zeros: Column) -> Column:
        raw = F.lit(alpha * m * m) / inv_sum
        lc = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
        est = F.when(zeros > 0, F.least(lc, raw)).otherwise(raw)
        return F.round(est).cast("long")

    def over(checked: Column) -> Column:
        inv_sum = F.aggregate(
            checked,
            F.lit(0.0),
            lambda a, x: a + F.pow(F.lit(2.0), -x.cast("double")),
        )
        zeros = F.size(F.filter(checked, lambda x: x == 0))
        return _let(
            inv_sum, lambda s: _let(zeros, lambda z: est_of(s, z))
        )

    return _let(regs, lambda r: over(_checked_registers(r, p)))
