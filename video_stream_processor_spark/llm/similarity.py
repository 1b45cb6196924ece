"""L3 — similarity search over the ``embeddings`` table
(``ArrayType(FloatType)``, 64-dim).

No analog in the reference (its closest "similarity" is substring
matching in error classification, ``video_processor.py:116-128``);
mandated north-star.

Scale notes (100 TB):
* ``cosine_topk`` broadcasts the single query vector and computes the
  dot product with JVM higher-order functions (zip_with + aggregate):
  one scan, no shuffle, TakeOrderedAndProject for the top-k. Exact, and
  the right baseline at any scale where a full scan is affordable.
* ``ivf_topk`` is the pruned path: vectors are pre-assigned to coarse
  centroids (one broadcast join at build time, persisted in practice);
  a query probes only the ``nprobe`` nearest cells, turning the scan
  into a partition-pruned read of nprobe/C of the data. Centroids here
  are a deterministic subset of the vectors (id < n_centroids) so the
  whole operator is reproducible without a training step; swap in
  k-means centroids for real recall curves.
* All math is double-precision after an explicit cast — float
  accumulation order would otherwise differ between engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def _dvec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


# Plan-time dimension HINT for the unrolled dot-product fast path
# (r15 optimization, guide §1.2 step 2): higher-order functions are
# CodegenFallback, so the zip_with+aggregate fold runs interpreted —
# ~0.5 ms per 64-dim evaluation, which dominates every pair-verify
# and scoring path (llm_srp_pairs spent ~10 s of its 22 s in verify
# cosines at sf0.1). Vectors of exactly the hinted length
# (`embedding_dim_hint`) instead take a flat left-associated
# arithmetic chain that whole-stage codegen compiles; ANY other length
# falls back to the generic fold. Both forms compute the same
# left-to-right double sum, so results are bit-identical either way —
# the hint only selects the execution strategy, never the value.

#: Unroll ceiling for a RESOLVED dim hint: a d-dim cosine inlines ~3d
#: product terms (plus guards) into one expression — fine at 64,
#: plan-bloat past a few hundred (r15 probe: a 6400-node projection ran
#: 3x slower than the folds). Hints above this fall back to the fold.
MAX_UNROLL_DIM = 128

# (session id, semanticHash, input fingerprint) -> observed embedding
# dim. The probe is one LIMIT-1 job; a resident session pays it once
# per distinct input (same policy as _TRAIN_MEMO).
_DIM_HINT_MEMO: dict[tuple, int | None] = {}


def embedding_dim_hint(embeddings: DataFrame) -> int | None:
    """Resolve the codegen fast-path dimension hint FROM THE TABLE
    (r15 verdict item 8 — a hard-coded 64 silently lost the fast path
    on any other corpus dim): the length of the
    first non-null embedding, memoized per (session, plan, files).

    Correctness never depends on the returned value — every consumer
    guards with ``size(v) == dim`` and falls back to the generic fold
    per row — so a mixed-dim corpus simply takes the fast path on the
    rows that match the probed dim. Returns None (fold everywhere)
    when the memo key or the probe fails, the table is empty, or the
    dim exceeds ``MAX_UNROLL_DIM``."""
    try:
        key = (
            id(embeddings.sparkSession),
            embeddings.semanticHash(),
            _dedup_fingerprint(embeddings),
        )
    except Exception:
        return None
    with _TRAIN_LOCK:
        if key in _DIM_HINT_MEMO:
            return _DIM_HINT_MEMO[key]
    try:
        row = (
            embeddings.filter(F.col("embedding").isNotNull())
            .select(F.size("embedding").alias("d"))
            .first()
        )
        dim: int | None = int(row["d"]) if row is not None else None
    except Exception:
        dim = None
    if dim is not None and not (0 < dim <= MAX_UNROLL_DIM):
        dim = None
    with _TRAIN_LOCK:
        while len(_DIM_HINT_MEMO) >= _TRAIN_MEMO_MAX:
            _DIM_HINT_MEMO.pop(next(iter(_DIM_HINT_MEMO)))
        _DIM_HINT_MEMO[key] = dim
    return dim


def _dedup_fingerprint(df: DataFrame) -> tuple:
    from .dedup import _input_fingerprint

    return _input_fingerprint(df)


def _fold_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """IMPORTANT: with a dim hint, pass ATTRIBUTES (column references),
    not derived expressions — the flat chain references each operand
    ``dim`` times, and attributes are free while an expression operand
    (e.g. ``_dvec(...)``) would re-evaluate per term. The flat form
    must also stay OUTSIDE any higher-order function: inside a lambda
    it would run interpreted and lose to the fold it replaces (probed
    r15: a _let-wrapped chain made embedding_near_dup 6x SLOWER)."""
    if not dim:
        return _fold_dot(a, b)
    # F.get (0-based) returns NULL out of bounds — never throws under
    # ANSI; NULL elements propagate exactly like the fold.
    unrolled: Column = F.lit(0.0)
    for i in range(dim):
        unrolled = unrolled + F.get(a, i) * F.get(b, i)
    return F.when(
        (F.size(a) == dim) & (F.size(b) == dim), unrolled
    ).otherwise(_fold_dot(a, b))


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def cosine_topk(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """L3 baseline: exact cosine top-k against the embedding of
    ``query_vec_id``. Cosine is rounded to 6dp *before* ranking so the
    (cosine, vec_id) order is engine-stable."""
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        _dvec("embedding").alias("qe")
    )
    scored = (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        # bind the cast vector once: cosine evaluates each operand in
        # three inner products (attributes are free, expressions are
        # not — see dot)
        .withColumn("__v", _dvec("embedding"))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("__v"), F.col("qe")), 6).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), "vec_id").limit(k)


def cosine_topk_batch(
    embeddings: DataFrame, query_vec_ids: list[int], k: int = 10
) -> DataFrame:
    """L3 batched serving shape: exact top-k for a BATCH of query
    vectors in one corpus pass. The query batch broadcasts (queries ×
    dim — KBs), every (candidate, query) cosine is scored map-side
    from the single scan, and the per-query top-k comes from a
    rank-bounded window (WindowGroupLimit pushes the k-bound into the
    sort, so per-query state is k rows, not the corpus).

    Per-query cost equals ``cosine_topk`` but the corpus is scanned
    once for the whole batch instead of once per query — the way an
    offline kNN-join / evaluation sweep should run at 100 TB. A
    query's own row is excluded; other batch members are candidates.
    """
    from pyspark.sql import Window

    q = embeddings.filter(F.col("vec_id").isin(query_vec_ids)).select(
        F.col("vec_id").alias("query_id"), _dvec("embedding").alias("qe")
    )
    scored = (
        embeddings.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("__v", _dvec("embedding"))
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(cosine(F.col("__v"), F.col("qe")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_embeddings(embeddings: DataFrame) -> DataFrame:
    """L3/L5: symmetric int8 quantization per vector (max-abs scale) —
    the storage/bandwidth compression step in front of an ANN index
    (4x smaller vectors; dot products move to integer SIMD). Pure
    narrow Column math (transform/aggregate — no UDF, no shuffle).

    Output is a per-vector summary rather than the raw int array so
    results hash identically across engines: the scale, the quantized
    sum / L1 mass, and a polynomial checksum of the int8 stream.
    Rounding is ``floor(x + 0.5)`` — identical in Spark and DuckDB,
    unlike round()'s half-even/half-away ambiguity."""
    from ..operators.hll import _let

    # Nested lets (r15): unbound, the scale ``s`` (which itself
    # re-derives the cast vector) sat INSIDE the quantize lambda and
    # was re-evaluated once per element — O(dim^2) work per vector,
    # times four sibling outputs. Bound, the cast vector, the scale
    # and the int stream each evaluate once per row; the four outputs
    # come out of one struct.
    def _summary(v: Column) -> Column:
        def _with_scale(s: Column) -> Column:
            q = F.transform(
                v,
                # all-zero vector: scale is 0 and x/s would be NaN
                # (ANSI cast of NaN to long throws) — all zeros instead
                lambda x: F.when(s == 0, F.lit(0))
                .otherwise(F.floor(x * 127.0 / s + 0.5))
                .cast("long"),
            )
            return _let(
                q,
                lambda qq: F.struct(
                    F.round(s, 6).alias("scale"),
                    F.aggregate(
                        qq, F.lit(0).cast("long"), lambda a, x: a + x
                    ).alias("q_sum"),
                    F.aggregate(
                        qq, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
                    ).alias("q_l1"),
                    F.aggregate(
                        qq,
                        F.lit(0).cast("long"),
                        lambda acc, x: (acc * 31 + (x + 128))
                        % F.lit((1 << 31) - 1),
                    ).alias("q_checksum"),
                ),
            )

        return _let(F.array_max(F.transform(v, lambda x: F.abs(x))), _with_scale)

    qz = _let(_dvec("embedding"), _summary)
    return embeddings.select("vec_id", "label", qz.alias("__qz")).select(
        "vec_id",
        "label",
        F.col("__qz.scale").alias("scale"),
        F.col("__qz.q_sum").alias("q_sum"),
        F.col("__qz.q_l1").alias("q_l1"),
        F.col("__qz.q_checksum").alias("q_checksum"),
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.95, max_id: int | None = None
) -> DataFrame:
    """L2/L3: embedding-cosine near-duplicate pairs (cos >= threshold).
    Exact all-pairs form — O(n^2), the ground truth the LSH/IVF paths
    are judged against; cap with ``max_id`` when registering at larger
    SFs."""
    e = embeddings if max_id is None else embeddings.filter(F.col("vec_id") < max_id)
    # norms once per vector, not once per pair (r16 — see
    # srp_near_dup_pairs): the O(n^2) pair stream then pays ONE inner
    # product per pair; values bit-identical (same deterministic sums,
    # earlier materialization). The stream side is also spread across
    # the shuffle-partition count first — one fixture parquet file
    # otherwise puts the whole O(n^2) cross-product evaluation in ONE
    # task (see srp_near_dup_pairs).
    dim = embedding_dim_hint(embeddings)
    n_spread = int(
        embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    v = (
        e.repartition(n_spread, "vec_id")
        .select("vec_id", _dvec("embedding").alias("v"))
        .select("vec_id", "v", norm(F.col("v"), dim).alias("nv"))
    )
    a = v.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"), dim) / (F.col("na") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """L3/L5: per-label centroid in long form (label, pos, avg_val) —
    vector aggregation via posexplode + one (label, pos) hash agg.
    Long form keeps it engine-portable (no array equality across
    engines) and shuffle-light: 64 rows per label out."""
    e = embeddings.select(
        "label", F.posexplode(_dvec("embedding")).alias("pos0", "v")
    )
    return e.groupBy("label", (F.col("pos0") + 1).alias("pos")).agg(
        F.round(F.avg("v"), 6).alias("avg_val")
    )


# (session id, tag+params, input semanticHash, input fingerprint) ->
# trained artifact DataFrame. Training executes eagerly at plan-build
# (each materialize round runs jobs), so without this memo every
# builder call re-trains; with it a resident session (bench loop,
# repeated driver calls) trains once per distinct input. Same policy
# as dedup._CKPT_MEMO: bounded FIFO, invalidated by file change.
_TRAIN_MEMO: dict[tuple, DataFrame] = {}
_TRAIN_MEMO_MAX = 16
_TRAIN_LOCK = __import__("threading").Lock()


def _memo_train(embeddings: DataFrame, tag: str, build):
    from .dedup import _input_fingerprint

    try:
        key = (
            id(embeddings.sparkSession),
            tag,
            embeddings.semanticHash(),
            _input_fingerprint(embeddings),
        )
    except Exception:
        return build()
    with _TRAIN_LOCK:
        hit = _TRAIN_MEMO.get(key)
    if hit is not None:
        from .dedup import _CKPT_LOCK, _MEMO_HITS

        with _CKPT_LOCK:
            _MEMO_HITS[f"train:{tag}"] = _MEMO_HITS.get(f"train:{tag}", 0) + 1
        return hit
    out = build()
    with _TRAIN_LOCK:
        while len(_TRAIN_MEMO) >= _TRAIN_MEMO_MAX:
            _TRAIN_MEMO.pop(next(iter(_TRAIN_MEMO)))
        _TRAIN_MEMO[key] = out
    return out


def kmeans_centroids(
    embeddings: DataFrame, k: int = 8, iters: int = 3
) -> DataFrame:
    """Lloyd's k-means centroids (see _kmeans_centroids_impl for the
    round structure); memoized per (input plan, params) so a resident
    session trains once, not per builder call."""
    return _memo_train(
        embeddings,
        f"kmeans-{k}-{iters}",
        lambda: _kmeans_centroids_impl(embeddings, k, iters),
    )


def _kmeans_centroids_impl(
    embeddings: DataFrame, k: int, iters: int
) -> DataFrame:
    """Lloyd's k-means over the embedding column, expressed as iterated
    DataFrame rounds — the trained-centroid path for IVF (the naive
    deterministic init, vectors with vec_id < k, is also the seed).

    Each round is the classic two-step at cluster scale:
    1. assign: broadcast the k centroids, nearest-by-cosine per vector
       (narrow — no shuffle of the corpus);
    2. update: posexplode assigned vectors, one (cluster, pos) hash agg
       for the component means, collect_list back into k small arrays.
    State between rounds is k×dim doubles — held via the
    ``session.materialize`` seam (localCheckpoint locally; parquet
    write-read under SPARK_GRAFT_CHECKPOINT_DIR on a real cluster, so
    iteration state survives executor loss). Deterministic given the seed
    (ties break on centroid_id; means are rounded to 9dp so float
    summation order cannot flip later assignments)."""
    cent = materialize(
        embeddings.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("centroid_id"), _dvec("embedding").alias("cv")
        ),
        "kmeans_cent",
    )
    vecs = embeddings.select("vec_id", _dvec("embedding").alias("v"))
    for _ in range(iters):
        assigned = (
            vecs.join(F.broadcast(cent))
            .select(
                "vec_id",
                "v",
                "centroid_id",
                F.round(cosine(F.col("v"), F.col("cv")), 9).alias("ccos"),
            )
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    "centroid_id", F.struct(F.col("ccos"), -F.col("centroid_id"))
                ).alias("centroid_id"),
                F.first("v").alias("v"),
            )
        )
        cent = (
            assigned.select("centroid_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "centroid_id",
                F.transform(F.col("pm"), lambda s: s.getField("m")).alias("cv"),
            )
            .transform(lambda d: materialize(d, "kmeans_cent"))
        )
    return cent


def ivf_assignments(
    embeddings: DataFrame,
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Assign every vector to its nearest coarse centroid (by cosine).
    Default centroids = vectors with vec_id < n_centroids —
    deterministic stand-ins; pass ``kmeans_centroids(...)`` output for
    trained cells. The assignment join broadcasts them."""
    cent = (
        embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"), _dvec("embedding").alias("cv")
        )
        if centroids is None
        else centroids
    )
    scored = embeddings.join(F.broadcast(cent)).withColumn(
        "__v", _dvec("embedding")
    ).select(
        "vec_id",
        "label",
        "embedding",
        "centroid_id",
        # round before argmax, and break exact ties on centroid_id, so
        # the assignment is engine-stable (float summation order would
        # otherwise pick different winners on near-ties)
        F.round(cosine(F.col("__v"), F.col("cv")), 9).alias("ccos"),
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(F.col("ccos"), -F.col("centroid_id")),
            ).alias("centroid_id"),
            F.first("label").alias("label"),
            F.first("embedding").alias("embedding"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """L3 scale path: IVF-style pruned search — probe the ``nprobe``
    centroid cells nearest the query and rank only vectors assigned
    there. Returns the same shape as ``cosine_topk``; recall vs the
    exact scan is pinned in tests. Pass ``kmeans_centroids(...)``
    output as ``centroids`` for trained cells (better-balanced lists →
    better recall at the same nprobe)."""
    assigned = ivf_assignments(embeddings, n_centroids, centroids=centroids)
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        _dvec("embedding").alias("qe")
    )
    cent = (
        embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"), _dvec("embedding").alias("cv")
        )
        if centroids is None
        else centroids
    )
    probe = (
        cent.join(F.broadcast(q))
        .select(
            "centroid_id",
            F.round(cosine(F.col("cv"), F.col("qe")), 9).alias("qcos"),
        )
        .orderBy(F.desc("qcos"), "centroid_id")
        .limit(nprobe)
        .select("centroid_id")
    )
    return (
        assigned.join(F.broadcast(probe), "centroid_id")
        .filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(q))
        .withColumn("__v", _dvec("embedding"))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("__v"), F.col("qe")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def ivf_topk_batch(
    embeddings: DataFrame,
    query_vec_ids: list[int],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """L3 batched + pruned: IVF search for a BATCH of queries with the
    assignment pass shared. The cell assignment of the corpus — the
    expensive part — is computed ONCE for the whole batch; each query
    contributes its ``nprobe`` probed cells via a per-query ranked
    window over the (query × centroid) cross scores (queries ×
    n_centroids rows — tiny, all broadcast); candidates join on
    (centroid_id) ∈ probes(query) and the per-query top-k comes from a
    rank-bounded window (WindowGroupLimit).

    Per-query semantics identical to ``ivf_topk`` (same rounding, same
    tie-breaks) — pinned in tests. At 100 TB this is the batch serving
    plan: one assignment materialization amortized over every query in
    the batch, and only probed cells are ever scored.
    """
    from pyspark.sql import Window

    assigned = ivf_assignments(embeddings, n_centroids, centroids=centroids)
    qs = embeddings.filter(F.col("vec_id").isin(query_vec_ids)).select(
        F.col("vec_id").alias("query_id"), _dvec("embedding").alias("qe")
    )
    cent = (
        embeddings.filter(F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("centroid_id"), _dvec("embedding").alias("cv")
        )
        if centroids is None
        else centroids
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.desc("qcos"), "centroid_id"
    )
    probes = (
        cent.join(F.broadcast(qs))
        .select(
            "query_id",
            "centroid_id",
            F.round(cosine(F.col("cv"), F.col("qe")), 9).alias("qcos"),
        )
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= nprobe)
        .select("query_id", "centroid_id")
    )
    # (query, centroid) probe pairs joined with the query vectors so a
    # candidate row scores against exactly its probing queries
    probe_q = probes.join(qs, "query_id")
    kw = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        assigned.join(F.broadcast(probe_q), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("__v", _dvec("embedding"))
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(cosine(F.col("__v"), F.col("qe")), 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(kw))
        .filter(F.col("rank") <= k)
    )


SRP_PLANES = 32
SRP_BANDS = 8
SRP_DIM = 64


def _srp_weights(n_planes: int = SRP_PLANES, dim: int = SRP_DIM) -> list[list[int]]:
    """Deterministic hyperplanes: W[p][i] = first-md5-nibble('p|i') - 7,
    an integer in [-7, 8]. Integer weights keep the projection a sum of
    exact double products — the same left-to-right sum both engines
    compute, so the sign (the LSH bit) is cross-engine stable."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}|{i}".encode()).hexdigest()[0], 16) - 7
            for i in range(1, dim + 1)
        ]
        for p in range(n_planes)
    ]


def srp_signatures(embeddings: DataFrame) -> DataFrame:
    """(vec_id, v, sig): sign-random-projection signature as a 32-char
    '0'/'1' string — SimHash for dense vectors. Map-side only: one
    zip_with + aggregate per plane, no shuffle, no Python."""
    e = embeddings.select("vec_id", _dvec("embedding").alias("v"))
    bits = []
    for w in _srp_weights():
        warr = F.array(*[F.lit(float(x)) for x in w])
        # dim=None deliberately (r15): 32 unrolled 64-term chains in ONE
        # projection measured 3x SLOWER than the folds here (3.2 vs
        # ~1.0 s at sf0.1 — a 6400-node projection defeats codegen),
        # while a single unrolled chain per expression wins everywhere
        # else; same bit-identical sum either way.
        s = dot(F.col("v"), warr, dim=None)
        bits.append(F.when(s > 0, F.lit("1")).otherwise(F.lit("0")))
    return e.select("vec_id", "v", F.concat(*bits).alias("sig"))


def srp_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.4) -> DataFrame:
    """L2/L3 scale path for embeddings: SRP-LSH banding (8 bands x 4
    planes) generates candidates, exact cosine verifies >= threshold.
    P(band match) = (1 - theta/pi)^4 per band — tuned for this corpus's
    moderate-similarity regime (max cos ~0.51; cos 0.4 pairs surface
    with p ~ 0.75, near-dup-grade pairs with p ~ 1). Same shuffle shape
    as the MinHash path: one (band, bucket) groupBy, candidates
    broadcast for verification; the O(n^2) scan of
    ``embedding_near_dup_pairs`` never runs."""
    planes_per_band = SRP_PLANES // SRP_BANDS
    sig = srp_signatures(embeddings)
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.substring("sig", b * planes_per_band + 1, planes_per_band).alias(
                    "bucket"
                ),
            )
            for b in range(SRP_BANDS)
        ]
    )
    # Candidate enumeration by (band, bucket) SELF-JOIN over a
    # materialized banding table (r16, guide §2/§3; r15 verdict item 1).
    # The first cut grouped each bucket into a sorted collect_set and
    # exploded C(n,2) pair structs from a nested ``transform`` — an
    # INTERPRETED higher-order function allocating ~1M structs inside
    # single rows at sf0.1 (measured: ~3.7 s collect_set + ~5.9 s pair
    # explode), and, worse at scale, all of a hot bucket's quadratic
    # work sat in ONE task no AQE rule can split. The equi-join emits
    # the identical pair multiset (each unordered pair once per shared
    # band; vec_id is unique per (band, bucket) by construction since a
    # vector lands in exactly one bucket per band) through whole-stage
    # codegen, AQE's skew-join can split a hot bucket at runtime, and
    # the same global ``distinct`` collapses cross-band duplicates —
    # byte-identical candidates, byte-identical final pairs. The
    # banding table is checkpointed first so the 32-plane signature
    # scan runs ONCE, not once per join side.
    banded = materialize(
        sig.select("vec_id", F.explode(band_cols).alias("bb")).select(
            "vec_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        ),
        "srp_banded",
    )
    cand = (
        banded.select("band", "bucket", F.col("vec_id").alias("id_a"))
        .join(
            banded.select("band", "bucket", F.col("vec_id").alias("id_b")),
            ["band", "bucket"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .transform(lambda d: materialize(d, "srp_cand"))
    )
    # Verify side (r16): per-vector norms are computed ONCE PER VECTOR
    # at the scan (n sqrt-of-self-dot evaluations) instead of once per
    # CANDIDATE PAIR inside the cosine (2 of its 3 inner products) —
    # the norm column is an attribute by the time the pair join sees
    # it, so cosine(a,b) = dot(va,vb)/(na*nb) evaluates exactly one
    # inner product per pair. Same expression values in a different
    # order of materialization: sqrt and the left-to-right double sums
    # are deterministic, so every cosine is bit-identical to the
    # 3-inner-product form (oracle-verified at two SFs). The two-select
    # split keeps ``v`` an attribute under the norm chain
    # (CollapseProject declines multi-ref non-cheap aliases).
    dim = embedding_dim_hint(embeddings)
    # Spread the vector table before the verify joins (r16, same
    # rationale as dedup._spread): the fixture embeddings are one
    # parquet file -> one scan task, and since both verify joins are
    # broadcast-builds, the ENTIRE 816k-pair chain evaluation ran in
    # that single task (measured: verify stage 3.2-3.6 s as-is vs
    # 1.1-1.3 s spread at sf0.1, byte-identical output). At cluster
    # scale the corpus arrives pre-split and this 1 MB shuffle is
    # noise; locally it is a 32x parallelism unlock.
    n_spread = int(
        embeddings.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    vecs = (
        embeddings.repartition(n_spread, "vec_id")
        .select("vec_id", _dvec("embedding").alias("v"))
        .select("vec_id", "v", norm(F.col("v"), dim).alias("nv"))
    )
    step1 = vecs.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
    ).join(F.broadcast(cand), "id_a")
    # step1 carries full vectors — don't force-broadcast it (hot-bucket
    # skew could blow past the broadcast limit at scale); AQE picks.
    return (
        vecs.select(
            F.col("vec_id").alias("id_b"),
            F.col("v").alias("vb"),
            F.col("nv").alias("nb"),
        )
        .join(step1, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"), dim) / (F.col("na") * F.col("nb")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --- Product quantization (IVF's companion memory path) ---------------
#
# At 100 TB the corpus of raw float32 vectors does not fit executor
# memory or scan budgets: PQ stores each vector as m small codes
# (m bytes at k<=256), a 32x compression at d=64/m=8/float32, and
# answers queries with asymmetric distance computation (ADC) — one
# table lookup per code against a per-query lookup table. Standard
# composition: IVF prunes to nprobe cells, PQ codes make the scan of
# those cells memory-bandwidth-cheap. Everything below is JVM Column
# math; the training state and LUT are k x d doubles — broadcast-class.


def _sqdist(a: Column, b: Column, dim: int | None = None) -> Column:
    """Squared L2 — the PQ sub-quantizer metric, rounded to 9dp before
    any argmin so assignments are engine-stable. Same unrolled-at-the-
    dim-hint / fold-fallback strategy as `dot` (r15), bit-identical
    value either way. NOTE (r16, per the r15 advisor): no shipped call
    site currently passes ``dim`` — the full-vector rerank legs scan
    ~topk*oversample rows per query, where the fold is nowhere near
    the wall — so the unrolled path is exercised only by its
    unrolled==fold equality pin in tests; it stays available for a
    future hot full-vector site."""

    def _fold(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: (p - q) * (p - q)),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    if not dim:
        return F.round(_fold(a, b), 9)
    # flat codegen chain at the hint; attribute operands only (see dot)
    unrolled: Column = F.lit(0.0)
    for i in range(dim):
        d = F.get(a, i) - F.get(b, i)
        unrolled = unrolled + d * d
    return F.round(
        F.when((F.size(a) == dim) & (F.size(b) == dim), unrolled).otherwise(
            _fold(a, b)
        ),
        9,
    )


def _subvectors(embeddings: DataFrame, m: int) -> DataFrame:
    """(vec_id, sub, sv): each vector split into m contiguous
    sub-vectors — long form so ALL m subspaces train/encode in the
    same jobs (one plan, not m plans).

    When dim is not divisible by m the LAST slice carries the
    remainder (floor(d/m)+d%m dims) instead of the tail being silently
    dropped — the first cut floored every slice, so with d=64/m=12 the
    last 4 dims were invisible to every code and every ADC distance
    and vectors differing only in the tail quantized identically (r15
    review). Train and encode share this function, so the longer last
    subspace is consistent end-to-end. m should be <= dim; beyond that
    the leading slices degenerate to empty sub-vectors."""
    v = _dvec("embedding")
    sub_d = (F.size(v) / m).cast("int")
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.when(s < m - 1, F.slice(v, s * sub_d + 1, sub_d)).otherwise(
            F.slice(v, s * sub_d + 1, F.size(v) - s * sub_d)
        ),
    )
    return embeddings.select(
        "vec_id", F.posexplode(slices).alias("sub", "sv")
    )


def pq_train(
    embeddings: DataFrame, m: int = 8, k: int = 16, iters: int = 2
) -> DataFrame:
    """Train the m sub-codebooks: Lloyd's k-means per subspace, all m
    subspaces in one iterated DataFrame round (assign = broadcast join
    on sub, update = one (sub, centroid, pos) hash agg). Deterministic
    like kmeans_centroids: seed = sub-vectors of vec_id < k, 9dp
    rounding, argmin ties to the lowest centroid id. Memoized per
    (input plan, params) like kmeans_centroids. Returns
    (sub, centroid_id, cv)."""
    return _memo_train(
        embeddings,
        f"pq-{m}-{k}-{iters}",
        lambda: _pq_train_impl(embeddings, m, k, iters),
    )


def _pq_train_impl(
    embeddings: DataFrame, m: int, k: int, iters: int
) -> DataFrame:
    sv = _subvectors(embeddings, m)
    book = materialize(
        sv.filter(F.col("vec_id") < k).select(
            "sub", F.col("vec_id").alias("centroid_id"), F.col("sv").alias("cv")
        ),
        "pq_book",
    )
    for _ in range(iters):
        assigned = (
            sv.join(F.broadcast(book), "sub")
            .select(
                "vec_id",
                "sub",
                "sv",
                "centroid_id",
                _sqdist(F.col("sv"), F.col("cv")).alias("d2"),
            )
            .groupBy("vec_id", "sub")
            .agg(
                F.min_by(
                    "centroid_id", F.struct(F.col("d2"), F.col("centroid_id"))
                ).alias("centroid_id"),
                F.first("sv").alias("sv"),
            )
        )
        book = materialize(
            assigned.select("sub", "centroid_id", F.posexplode("sv").alias("pos", "x"))
            .groupBy("sub", "centroid_id", "pos")
            .agg(F.round(F.avg("x"), 9).alias("c"))
            .groupBy("sub", "centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(
                "sub",
                "centroid_id",
                F.transform(F.col("pc"), lambda s: s.getField("c")).alias("cv"),
            ),
            "pq_book",
        )
    return book


def pq_encode(
    embeddings: DataFrame, codebook: DataFrame, m: int = 8
) -> DataFrame:
    """(vec_id, codes): each vector as its m nearest-sub-centroid ids —
    the compressed representation ADC scans. One broadcast join + one
    (vec_id) agg; codes are sorted by subspace position."""
    coded = (
        _subvectors(embeddings, m)
        .join(F.broadcast(codebook), "sub")
        .select(
            "vec_id",
            "sub",
            "centroid_id",
            _sqdist(F.col("sv"), F.col("cv")).alias("d2"),
        )
        .groupBy("vec_id", "sub")
        .agg(
            F.min_by(
                "centroid_id", F.struct(F.col("d2"), F.col("centroid_id"))
            ).alias("code")
        )
    )
    return (
        coded.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("sc"))
        .select(
            "vec_id",
            F.transform(F.col("sc"), lambda s: s.getField("code")).alias("codes"),
        )
    )


def pq_topk(
    embeddings: DataFrame,
    codebook: DataFrame,
    query_vec_id: int = 0,
    topk: int = 10,
    m: int = 8,
    codes: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: the query's sub-vectors score every codebook centroid
    once (a k x m lookup table — collected and inlined as literal
    arrays, the same broadcast-class state as the centroids
    themselves), then the corpus scan is one element_at per code and a
    sum — no floats from the corpus touched, TakeOrderedAndProject
    bounds the result. Pass precomputed ``codes`` to model the stored
    index (at scale codes are a written table, not recomputed)."""
    if codes is None:
        codes = pq_encode(embeddings, codebook, m)
    q = embeddings.filter(F.col("vec_id") == query_vec_id)
    lut_rows = (
        _subvectors(q, m)
        .join(F.broadcast(codebook), "sub")
        .select(
            "sub",
            "centroid_id",
            _sqdist(F.col("sv"), F.col("cv")).alias("d2"),
        )
        .collect()
    )
    by_sub: dict[int, dict[int, float]] = {}
    for r in lut_rows:
        by_sub.setdefault(r["sub"], {})[r["centroid_id"]] = r["d2"]
    # literal ADC tables: lut[sub][centroid_id] (centroid ids are dense
    # 0..k-1 from the vec_id < k seed; guard holes with +inf so a
    # dropped-empty-cell code can never win)
    if not by_sub:
        raise ValueError(
            f"query_vec_id {query_vec_id} not present in embeddings"
        )
    n_cent = max(max(d) for d in by_sub.values()) + 1
    luts = [
        F.array(
            *[
                F.lit(by_sub.get(s, {}).get(c, float("inf")))
                for c in range(n_cent)
            ]
        )
        for s in range(m)
    ]
    adc = F.round(
        sum(
            F.element_at(
                luts[s], (F.get(F.col("codes"), s) + 1).cast("int")
            )
            for s in range(m)
        ),
        9,
    )
    return (
        codes.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", adc.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), "vec_id")
        .limit(topk)
    )


def pq_topk_rerank(
    embeddings: DataFrame,
    codebook: DataFrame,
    query_vec_id: int = 0,
    topk: int = 10,
    m: int = 8,
    oversample: int = 10,
    codes: DataFrame | None = None,
) -> DataFrame:
    """The production PQ search shape: ADC over the compressed codes
    produces an ``oversample * topk`` shortlist (cheap — no corpus
    floats touched), then ONLY the shortlist's raw vectors are fetched
    for an exact L2 re-rank. At 100 TB the exact pass reads
    oversample*topk rows instead of the corpus; the shortlist id set
    broadcasts. Re-ranking recovers the recall ADC alone loses to
    quantization (measured on the fixture: 3/10 raw ADC → 10/10 at
    oversample=10)."""
    shortlist = pq_topk(
        embeddings, codebook, query_vec_id, topk * oversample, m, codes
    ).select("vec_id")
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        _dvec("embedding").alias("qe")
    )
    return (
        embeddings.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(q))
        .withColumn("__v", _dvec("embedding"))
        .select(
            "vec_id",
            "label",
            _sqdist(F.col("__v"), F.col("qe")).alias("l2_dist"),
        )
        .orderBy(F.asc("l2_dist"), "vec_id")
        .limit(topk)
    )


def _pq_luts(
    embeddings: DataFrame, codebook: DataFrame, query_vec_ids: list[int], m: int
) -> dict[int, list[Column]]:
    """Per-query ADC lookup tables as literal array Columns —
    B x m x k doubles collected once (broadcast-class, same as the
    codebook); missing cells guard with +inf."""
    q = embeddings.filter(F.col("vec_id").isin(query_vec_ids))
    rows = (
        _subvectors(q, m)
        .join(F.broadcast(codebook), "sub")
        .select(
            F.col("vec_id").alias("query_id"),
            "sub",
            "centroid_id",
            _sqdist(F.col("sv"), F.col("cv")).alias("d2"),
        )
        .collect()
    )
    by_q: dict[int, dict[int, dict[int, float]]] = {}
    n_cent = 0
    for r in rows:
        by_q.setdefault(r["query_id"], {}).setdefault(r["sub"], {})[
            r["centroid_id"]
        ] = r["d2"]
        n_cent = max(n_cent, r["centroid_id"] + 1)
    missing = sorted(set(query_vec_ids) - set(by_q))
    if missing:
        raise ValueError(f"query_vec_ids not present in embeddings: {missing}")
    return {
        qid: [
            F.array(
                *[
                    F.lit(subs.get(s, {}).get(c, float("inf")))
                    for c in range(n_cent)
                ]
            )
            for s in range(m)
        ]
        for qid, subs in by_q.items()
    }


def pq_topk_batch(
    embeddings: DataFrame,
    codebook: DataFrame,
    query_vec_ids: list[int],
    topk: int = 10,
    m: int = 8,
    oversample: int = 10,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Batched PQ search, production shape: ONE scan of the compressed
    codes computes every query's ADC sum (per-query LUTs inlined as
    literals), a rank-bounded window keeps oversample*topk candidates
    per query (WindowGroupLimit — per-query state is the shortlist,
    not the corpus), and only the union of shortlists is fetched as
    raw vectors for the exact per-query re-rank. At 100 TB: the float
    corpus is read for B * oversample * topk rows total, everything
    else scans bytes."""
    from pyspark.sql import Window

    if codes is None:
        codes = pq_encode(embeddings, codebook, m)
    luts = _pq_luts(embeddings, codebook, query_vec_ids, m)

    def adc(qid: int) -> Column:
        return F.round(
            sum(
                F.element_at(
                    luts[qid][s], (F.get(F.col("codes"), s) + 1).cast("int")
                )
                for s in range(m)
            ),
            9,
        )

    entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(qid).alias("query_id"), adc(qid).alias("adc_dist")
                )
                for qid in query_vec_ids
            ]
        )
    ).alias("e")
    scored = (
        codes.select("vec_id", entries)
        .select("vec_id", F.col("e.query_id").alias("query_id"), "e.adc_dist")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), "vec_id")
    shortlist = (
        scored.withColumn("cand_rank", F.row_number().over(w))
        .filter(F.col("cand_rank") <= topk * oversample)
        .select("query_id", "vec_id")
    )
    qvecs = embeddings.filter(F.col("vec_id").isin(query_vec_ids)).select(
        F.col("vec_id").alias("query_id"), _dvec("embedding").alias("qe")
    )
    exact = (
        embeddings.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn("__v", _dvec("embedding"))
        .select(
            "query_id",
            "vec_id",
            "label",
            _sqdist(F.col("__v"), F.col("qe")).alias("l2_dist"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.asc("l2_dist"), "vec_id")
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= topk)
    )


def pq_encode_mapside(
    embeddings: DataFrame, codebook: DataFrame, m: int = 8
) -> DataFrame:
    """Zero-shuffle PQ encoding: the trained codebook (m x k x d/m
    doubles — broadcast-class) is collected and inlined as literals,
    so each vector's m codes are pure column expressions over the
    scan — encoding never shuffles the corpus. Ties and rounding match
    the long-form ``pq_encode`` exactly: 9dp sqdist, lowest centroid
    id wins (array_position returns the FIRST minimum and cells are
    ordered by id, with +inf guards for dropped empty cells); the two
    encoders are pinned byte-equal in tests.

    Measured tradeoff (sf0.1, local[32]): map-side 2.15 s vs long-form
    0.90 s — the m*k inlined distance expressions cost more CPU per
    row than the long-form's two hash aggs, whose shuffles are free at
    fixture scale. The crossover is where shuffling the corpus stops
    being free: at 100 TB the long form moves the whole exploded
    corpus (m rows per vector) across the network twice, while this
    path moves nothing — use map-side for cluster index builds,
    long-form when the corpus is small relative to the network."""
    rows = codebook.collect()
    by_sub: dict[int, dict[int, list[float]]] = {}
    n_cent = 0
    for r in rows:
        by_sub.setdefault(r["sub"], {})[r["centroid_id"]] = [
            float(x) for x in r["cv"]
        ]
        n_cent = max(n_cent, r["centroid_id"] + 1)
    v = _dvec("embedding")
    sub_d = (F.size(v) / m).cast("int")

    def sqdist_lit(sl: Column, cv: list[float] | None) -> Column:
        if cv is None:
            return F.lit(float("inf"))
        return F.round(
            F.aggregate(
                F.zip_with(
                    sl,
                    F.array(*[F.lit(x) for x in cv]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        )

    def code_for(s: int) -> Column:
        sl = F.slice(v, s * sub_d + 1, sub_d)
        ds = F.array(
            *[sqdist_lit(sl, by_sub.get(s, {}).get(c)) for c in range(n_cent)]
        )
        return (F.array_position(ds, F.array_min(ds)) - 1).cast("long")

    return embeddings.select(
        "vec_id", F.array(*[code_for(s) for s in range(m)]).alias("codes")
    )


def ivf_assign_mapside(
    embeddings: DataFrame, centroids: DataFrame
) -> DataFrame:
    """Stateless IVF cell assignment: centroids collected (k x d —
    broadcast-class) and inlined as literals, argmax-by-cosine as pure
    column expressions. Two jobs for the same shape:

    * streaming ingest — an unbounded embedding stream routes to index
      cells with ZERO streaming state (the groupBy form of
      ``ivf_assignments`` would be stateful on a stream);
    * map-side batch assignment — at 100 TB, corpus-to-cell routing is
      a narrow projection over the scan, like ``pq_encode_mapside``.

    Same determinism contract as ``ivf_assignments`` (9dp-rounded
    cosine, ties to lowest centroid id), pinned equal in tests; same
    output shape (vec_id, label, embedding + centroid_id)."""
    rows = sorted(
        centroids.collect(), key=lambda r: r["centroid_id"]
    )
    v = _dvec("embedding")
    scores = F.array(
        *[
            F.round(
                cosine(v, F.array(*[F.lit(float(x)) for x in r["cv"]])), 9
            )
            for r in rows
        ]
    )
    cids = F.array(*[F.lit(int(r["centroid_id"])) for r in rows])
    # first occurrence of the max = lowest centroid id on ties (rows
    # are sorted by centroid_id)
    best = F.element_at(
        cids, F.array_position(scores, F.array_max(scores)).cast("int")
    ).cast("long")
    return embeddings.select(
        "vec_id", "label", "embedding", best.alias("centroid_id")
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    topk: int = 10,
    n_cells: int = 8,
    nprobe: int = 4,
    m: int = 8,
    k_sub: int = 16,
    oversample: int = 10,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """The composed production ANN index (FAISS IVF-PQ shape): coarse
    cells prune the corpus to nprobe/n_cells, PQ codes make scanning
    the survivors memory-cheap (ADC), and the exact re-rank touches
    only the final shortlist. At 100 TB each stage cuts what the next
    one reads: cells -> nprobe/C of the rows, codes -> m bytes per
    surviving row, floats -> oversample*topk rows total.

    With nprobe == n_cells this degrades to exactly
    ``pq_topk_rerank`` (pinned in tests). Both trained structures
    (cells + sub-codebooks) come from the memoized deterministic
    trainers."""
    cent = (
        kmeans_centroids(embeddings, k=n_cells, iters=2)
        if centroids is None
        else centroids
    )
    book = (
        pq_train(embeddings, m=m, k=k_sub, iters=2)
        if codebook is None
        else codebook
    )
    assigned = ivf_assign_mapside(embeddings, cent).select(
        "vec_id", "centroid_id"
    )
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        _dvec("embedding").alias("qe")
    )
    probe = (
        cent.join(F.broadcast(q))
        .select(
            "centroid_id",
            F.round(cosine(F.col("cv"), F.col("qe")), 9).alias("qcos"),
        )
        .orderBy(F.desc("qcos"), "centroid_id")
        .limit(nprobe)
        .select("centroid_id")
    )
    survivors = assigned.join(F.broadcast(probe), "centroid_id").select(
        "vec_id"
    )
    codes = pq_encode_mapside(embeddings, book, m=m).join(
        F.broadcast(survivors), "vec_id"
    )
    shortlist = pq_topk(
        embeddings,
        book,
        query_vec_id=query_vec_id,
        topk=topk * oversample,
        m=m,
        codes=codes,
    ).select("vec_id")
    return (
        embeddings.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(q))
        .withColumn("__v", _dvec("embedding"))
        .select(
            "vec_id",
            "label",
            _sqdist(F.col("__v"), F.col("qe")).alias("l2_dist"),
        )
        .orderBy(F.asc("l2_dist"), "vec_id")
        .limit(topk)
    )
