"""L1/L2 — document deduplication, exact and near-dup.

Reference parity: the reference's only dedup is ``set()`` on the URL
list before enrichment (``video_processor.py:330``) — L1 generalizes
that to content hashing; L2 (MinHash/SimHash/Jaccard) is north-star.

Scale notes (100 TB):
* L1 hashes map-side and shuffles only (hash → min id, count) pairs —
  one shuffle, partial aggregation free.
* The pairwise Jaccard join explodes shingles; its cost is bounded by
  shingle-posting-list skew. That is exactly what MinHash+LSH fixes:
  candidate generation joins on (band, band_hash) buckets — tiny keys,
  uniform by construction — and only candidates pay the exact-Jaccard
  verification join. The exact pairwise form stays registered as the
  oracle-checkable ground truth at test SF.
* Everything is built from JVM-side expressions (xxhash64, array
  higher-order functions) — no Python in the hot path.
"""

from __future__ import annotations

import os
import threading
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import materialize

# MinHash parameters: K hashes in B bands of R rows. P(candidate) =
# 1-(1-j^R)^B — with 8x4, j=0.5 → 0.61, j=0.8 → 0.97.
MINHASH_K = 32
MINHASH_BANDS = 8
MINHASH_ROWS = 4

SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4  # 16-bit chunks: hamming<=3 → >=1 chunk identical

# (session id, tag, semanticHash, input fingerprint) ->
# (source df, checkpointed df). Bounded FIFO; evicted entries are
# reclaimed by the driver's ContextCleaner once unreferenced (no
# explicit unpersist — a caller may still hold the returned DataFrame).
_CKPT_MEMO: dict[tuple, tuple[DataFrame, DataFrame]] = {}
_CKPT_MEMO_MAX = 16
_CKPT_LOCK = threading.Lock()

#: tag -> memo-hit count, incremented whenever a memoized checkpoint
#: (or trained artifact — similarity._memo_train records here too,
#: "train:"-prefixed) is SERVED instead of recomputed. Read by bench.py
#: to stamp per-leg ``served_from_memo`` provenance into the artifact
#: (r15 verdict item 7: a reader must be able to see which bench legs
#: serve from a warm-pass memoized build). Monotone counters, never
#: reset — consumers diff snapshots.
_MEMO_HITS: dict[str, int] = {}


def invalidate_checkpoint_memo() -> None:
    """Drop every memoized checkpoint, trained artifact AND embedding
    dim hint (e.g. after regenerating the parquet fixtures
    mid-session). Evicted frames are reclaimed by the driver's
    ContextCleaner once callers release their references."""
    with _CKPT_LOCK:
        _CKPT_MEMO.clear()
    from .similarity import _DIM_HINT_MEMO, _TRAIN_LOCK, _TRAIN_MEMO

    with _TRAIN_LOCK:
        _TRAIN_MEMO.clear()
        _DIM_HINT_MEMO.clear()


def _input_fingerprint(df: DataFrame) -> tuple:
    """Best-effort (path, mtime_ns, size) fingerprint of the plan's
    leaf input files, so a fixture regenerated at the same path gets a
    fresh checkpoint instead of stale memoized data. Local/file paths
    are stat'ed; remote URIs fall back to path identity (object stores
    are immutable-by-convention — a rewrite changes the file list)."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        return ()
    out = []
    for uri in files[:64]:  # cap stat calls for very wide scans
        p = urlparse(uri)
        if p.scheme in ("", "file"):
            try:
                st = os.stat(p.path)
                out.append((p.path, st.st_mtime_ns, st.st_size))
                continue
            except OSError:
                pass
        out.append((uri, 0, 0))
    return tuple(out)


def _memo_checkpoint(df: DataFrame, tag: str) -> DataFrame:
    """Eager ``localCheckpoint`` memoized per (session, plan semantics,
    input-file fingerprint).

    A resident session (bench loop, notebook, repeated driver calls)
    rebuilds the same derived table on every builder call; without the
    memo each build re-materializes it and strands the previous
    checkpoint until driver GC. Keyed by ``semanticHash`` plus the leaf
    files' (path, mtime, size), verified with ``sameSemantics``, so
    only a truly identical plan over unchanged files reuses the
    materialization; ``invalidate_checkpoint_memo()`` force-clears. At
    cluster scale the analog is writing the derived table once and
    reading it thereafter. NOT for iteratively-updated frames (k-means
    state, label propagation) — those change per call by design."""
    try:
        key = (id(df.sparkSession), tag, df.semanticHash(), _input_fingerprint(df))
        with _CKPT_LOCK:
            hit = _CKPT_MEMO.get(key)
        if hit is not None and hit[0].sameSemantics(df):
            with _CKPT_LOCK:
                _MEMO_HITS[tag] = _MEMO_HITS.get(tag, 0) + 1
            return hit[1]
    except Exception:
        return materialize(df, tag)
    ck = materialize(df, tag)
    with _CKPT_LOCK:
        while len(_CKPT_MEMO) >= _CKPT_MEMO_MAX:
            _CKPT_MEMO.pop(next(iter(_CKPT_MEMO)))
        _CKPT_MEMO[key] = (df, ck)
    return ck


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization, empty tokens dropped — the one
    tokenizer every L-op shares (and the oracle mirrors)."""
    return F.filter(F.split(F.col(col), " "), lambda x: x != F.lit(""))


def word_shingles(tok: Column, n: int = 2) -> Column:
    """Distinct n-word shingles of a token array (n=2: bigrams).

    Empty array (not an error) for docs shorter than n tokens: the
    first cut clamped with greatest(size-(n-1), 0), but sequence(1, 0)
    counts DOWN in Spark ([1, 0]) and element_at(tok, 0) then throws
    INVALID_INDEX_OF_ZERO — the same trap text.repetition_signals
    documents and guards against, so the guard lives here where every
    shingle consumer inherits it (r15 review).

    ``tok`` is let-bound before use (operators.hll._let): callers pass
    the tokenization EXPRESSION, and higher-order-function lambdas
    re-evaluate free subexpressions per element — unbound, each of the
    ~n shingles re-ran split+filter over the full text, turning the
    shingle build O(n^2) in document length (measured r15 — see
    OPTIMIZATION_r15.md, opbench word_shingle_explode)."""
    from ..operators.hll import _let

    def _build(t: Column) -> Column:
        joined = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(n)]
            ),
        )
        return F.when(F.size(t) >= n, F.array_distinct(joined)).otherwise(
            F.array().cast("array<string>")
        )

    return _let(tok, _build)


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition by doc_id before per-row-expensive work. The test
    tables are one parquet file -> one input split -> ONE task would
    run the whole shingle/hash pipeline serially; at cluster scale the
    source arrives pre-split, so this shuffle of raw text is a no-op
    there and a 32x parallelism win here."""
    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return docs.repartition(n, "doc_id")


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) — exploded distinct bigram shingles per doc."""
    docs = _spread(docs)
    return (
        docs.filter(F.size(tokens()) >= 2)
        .select("doc_id", F.explode(word_shingles(tokens())).alias("sh"))
    )


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """L1: group identical texts by sha256; deterministic survivor =
    min doc_id (dropDuplicates picks an arbitrary row — this is the
    oracle-checkable form; at scale both are one hash-shuffle)."""
    return (
        docs.select(F.sha2(F.col("text"), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def canonical_dedup_groups(docs: DataFrame) -> DataFrame:
    """L1 variant: dedup on the *sorted distinct token set* — catches
    word-reordered near-copies exactly (a cheap, fully-SQL canonical
    form that sits between exact hash and MinHash)."""
    canon = F.sha2(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens()))), 256
    ).alias("canon_hash")
    return (
        docs.select(canon, "doc_id")
        .groupBy("canon_hash")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


def _pair_jaccard(sh: DataFrame, candidates: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard over bigram-shingle sets for doc pairs.

    With ``candidates`` (doc_a, doc_b): the intersection is computed by
    expanding each candidate pair with doc_a's shingles and probing the
    (doc_id, shingle) set of doc_b — cost O(|candidates| * shingles/doc),
    independent of posting-list skew. That is the whole point of LSH:
    the quadratic co-shingle join below (the no-candidates ground-truth
    path) never runs at scale.
    """
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if candidates is not None:
        a_sh = sh.select(F.col("doc_id").alias("doc_a"), "sh")
        b_sh = sh.select(F.col("doc_id").alias("doc_b"), "sh")
        pairs = (
            candidates.join(a_sh, "doc_a")
            .join(b_sh, ["doc_b", "sh"], "left_semi")
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        pairs = (
            a.join(b, "sh")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).alias("common"))
        )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
    )


def _prefix_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filtered candidate pairs for an EXACT Jaccard join
    (PPJoin-family prefix principle, Xiao et al., WWW'08 / public
    similarity-join literature):

    under ANY global total order of shingles, two sets with
    J(a, b) >= t must share an element within each set's first
    ``|x| - ceil(t * |x|) + 1`` shingles (if the prefixes were
    disjoint, too few elements would remain to reach the required
    overlap ``t/(1+t) * (|a|+|b|) >= ceil(t*|x|)``).

    Ordering by GLOBAL FREQUENCY ascending puts the rarest shingles in
    the prefix, so the candidate self-join runs over short posting
    lists — hot shingles ('of the', ...) never join. The result is a
    strict superset of the true pairs, and exact verification makes
    the final output IDENTICAL to the quadratic all-postings join."""
    from pyspark.sql import Window

    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("doc_id").orderBy(F.col("freq").asc(), F.col("sh").asc())
    ranked = (
        sh.join(freq, "sh")
        .select(
            "doc_id",
            "sh",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_sh"),
        )
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1
    ).select("doc_id", "sh")
    a = prefix.select(F.col("doc_id").alias("doc_a"), "sh")
    b = prefix.select(F.col("doc_id").alias("doc_b"), "sh")
    return (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """L2 ground truth: doc pairs with bigram-shingle Jaccard >=
    threshold. Exact output either way:

    * default: one all-postings self-join + groupBy — optimal when
      posting lists are short (near-unique shingles, as in this
      corpus: measured 2-4x faster than the filtered path here);
    * ``prefix_filter=True``: frequency-ordered prefix filtering
      (``_prefix_candidates``) + per-candidate verification — the
      right shape when a corpus has HOT shingles whose posting lists
      make the self-join quadratic (boilerplate headers, templated
      text). Equality of the two paths is pinned in tests.

    Pass a pre-materialized ``shingles`` table to share the
    tokenize+explode pass with other consumers."""
    sh = _doc_shingles(docs) if shingles is None else shingles
    cand = _prefix_candidates(sh, threshold) if prefix_filter else None
    return _pair_jaccard(sh, candidates=cand).filter(F.col("jaccard") >= threshold)


#: Mersenne prime 2^31-1 — modulus of the universal hash family below.
_MERSENNE_P = (1 << 31) - 1


def _minhash_family(k: int, seed: int = 1234) -> list[tuple[int, int]]:
    """k fixed (a, b) pairs for the family h_i(x) = (a_i*x + b_i) mod P.
    A plain multiply-shift WITHOUT the mod would be monotone on the
    31-bit domain (no wraparound under ANSI overflow checking), making
    every h_i pick the same min element — the mod is load-bearing."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE_P), rnd.randrange(0, _MERSENNE_P))
        for _ in range(k)
    ]


def _fold31(c: Column) -> Column:
    """64-bit shingle hash -> [0, P): xor-fold the halves to 31 bits.
    Keeps a_i * x + b_i < 2^62, so ANSI long arithmetic never overflows."""
    return F.pmod(
        F.shiftrightunsigned(c, 33).bitwiseXOR(c.bitwiseAND(F.lit(0x7FFFFFFF))),
        F.lit(_MERSENNE_P),
    )


def _doc_shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, sh_arr): the distinct shingle set as ONE array row per
    doc, each bigram stored as xxhash64(word_i, word_i+1) — a LONG, no
    string materialization (64-bit collisions: p ~ n^2/2^65, so Jaccard
    over hashed sets equals Jaccard over strings). Keeping the set
    un-exploded is what lets signatures, banding, and verification all
    run without a per-shingle shuffle."""
    from ..operators.hll import _let

    tok = tokens()
    # let-bind the token array: the per-element lambda otherwise
    # re-evaluates split+filter for BOTH gets of every shingle —
    # O(n^2) characters per doc (measured r15: 1.78 -> ~0.5 s noop med
    # over sf0.1, and the downstream un-memoized signature build
    # 21.1 -> 0.52 s; see OPTIMIZATION_r15.md)
    hashed = _let(
        tok,
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.xxhash64(F.get(t, i - 1), F.get(t, i)),
            )
        ),
    )
    base = docs if docs.isStreaming else _spread(docs)
    return (
        base.filter(F.size(tok) >= 2)
        .select("doc_id", hashed.alias("sh_arr"))
    )


def minhash_signatures(arr: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, sh_arr, h0..h{k-1}): k independent min-hashes computed
    MAP-SIDE from the per-doc shingle array — array_min over the
    universal family, no aggregation, no shuffle. At 100 TB this is the
    difference between a narrow projection pass and a full corpus-wide
    groupBy."""
    folded = arr.select("doc_id", "sh_arr", F.transform("sh_arr", _fold31).alias("hp"))
    mins = [
        F.array_min(
            F.transform(
                "hp", lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(_MERSENNE_P))
            )
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(_minhash_family(k))
    ]
    return folded.select("doc_id", "sh_arr", *mins)


def minhash_signatures_oph(
    arr: DataFrame, k: int = MINHASH_K, seed: int = 77
) -> DataFrame:
    """One-permutation hashing (Li/Owen/Zhang 2012) with rotation
    densification (Shrivastava/Li 2014): ONE universal-hash pass over
    the shingle set, the k signature slots taken as per-bucket minima
    of k disjoint mod-k hash-space buckets, and empty buckets filled
    from the next non-empty slot to the right (cyclically).

    Why it exists: ``minhash_signatures`` evaluates k=32 independent
    hash functions per shingle — O(k·n) multiplications per doc. OPH
    hashes each shingle ONCE (O(n) multiplications) and replaces the
    rest with comparisons; on hash-bound corpora (long docs, big k)
    that is the classic constant-factor win. Same map-side zero-shuffle
    shape: every step is a higher-order-function expression of O(1)
    plan size.

    Signatures are a deterministic function of the shingle SET, so
    identical sets collide in every band by construction; near-dup
    recall is pinned empirically in tests (the banding collision law
    differs slightly from k-permutation MinHash because slot emptiness
    correlates across similar sets).
    """
    from ..operators.hll import _let

    (a, b) = _minhash_family(1, seed)[0]
    slots = F.sequence(F.lit(0), F.lit(k - 1))

    # Nested let-bindings (r15): h1, raw, and the filled-slot index
    # list are each referenced from inside a downstream lambda, where
    # free subexpressions re-evaluate PER ELEMENT — unbound, ``dense``
    # re-built ``raw`` for every slot and every ``raw`` bucket re-built
    # ``h1``, making the "one-pass" scheme O(k^2 * n) hash evaluations.
    # Bound, each layer evaluates exactly once per row.
    def _dense(h1: Column) -> Column:
        return _let(
            F.transform(
                slots,
                lambda i: F.array_min(
                    F.filter(h1, lambda x: F.pmod(x, F.lit(k)) == i)
                ),
            ),
            lambda raw: _let(
                # cyclic "next filled slot at or after i": search the
                # index list unrolled once past k (non-empty shingle
                # sets fill >= 1 slot)
                F.filter(slots, lambda i: F.get(raw, i).isNotNull()),
                lambda filled_idx: _let(
                    F.concat(
                        filled_idx, F.transform(filled_idx, lambda j: j + k)
                    ),
                    lambda wrapped: F.transform(
                        slots,
                        lambda i: F.get(
                            raw,
                            F.pmod(
                                F.array_min(
                                    F.filter(wrapped, lambda j: j >= i)
                                ),
                                F.lit(k),
                            ),
                        ),
                    ),
                ),
            ),
        )

    dense = _let(
        F.transform(
            "sh_arr",
            lambda x: F.pmod(
                F.lit(a) * _fold31(x) + F.lit(b), F.lit(_MERSENNE_P)
            ),
        ),
        _dense,
    )
    out = arr.select("doc_id", "sh_arr", dense.alias("__sig"))
    return out.select(
        "doc_id",
        "sh_arr",
        *[F.get("__sig", i).alias(f"h{i}") for i in range(k)],
    )


def _lsh_banded(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, bucket) from a signature frame: each band's
    bucket key is the xxhash64 of its ``rows`` signature slots, derived
    map-side and exploded — no shuffle until the caller groups on
    (band, bucket). Shared by the pair generator and the bucket-size
    probe (`minhash_bucket_sizes`) so the measured distribution is the
    production banding, not a re-implementation."""
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"h{b * rows + j}") for j in range(rows)]).alias(
                    "bucket"
                ),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_cols).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def minhash_bucket_sizes(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    one_perm: bool = False,
) -> DataFrame:
    """(band, bucket, n_docs) over the EXACT banding
    `minhash_near_dup_pairs` joins on — the per-bucket occupancy whose
    tail bounds candidate-pair explosion (a bucket of n docs explodes
    C(n,2) candidate structs in the pair stage). The 100 TB design
    claim "bucket sizes are small by LSH construction" is a
    distributional statement; this probe makes it measurable on any
    corpus."""
    rows = k // bands
    arr = _memo_checkpoint(_doc_shingle_arrays(docs), "minhash_arr")
    sig_fn = minhash_signatures_oph if one_perm else minhash_signatures
    sig = sig_fn(arr, k).drop("sh_arr")
    return (
        _lsh_banded(sig, bands, rows)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    one_perm: bool = False,
) -> DataFrame:
    """L2 at scale: MinHash -> LSH banding -> bucket join -> exact
    verification of candidates only.

    Plan shape (what makes this hold at 100 TB):
    1. ONE materialization of the per-doc shingle-set ARRAY table; all
       later stages read it. Signatures are array_min projections over
       a universal hash family — map-side, zero shuffle.
    2. Band buckets derive map-side from the signatures and meet in a
       single (band, bucket) shuffle — small uniform keys, no
       posting-list skew.
    3. Verification broadcasts the candidate-pair table (tiny by LSH
       construction) against the array table twice — Jaccard from
       ``array_intersect``, again no shuffle of the corpus.
    Total: one repartition of the raw text + one small-key shuffle.
    The quadratic co-shingle join of ``ngram_jaccard_pairs`` never
    runs, and nothing wide ever aggregates the non-candidate tail.

    Output equals ``ngram_jaccard_pairs`` up to LSH recall (pairs at
    j >= 0.5 surface with p ~ 0.61 per band structure 8x4; tests pin
    recall on seeded near-dups). Rows-only driver check — DuckDB has
    no xxhash64 — but the exact verification makes false positives
    impossible.

    ``one_perm=True`` swaps in one-permutation-hashing signatures
    (``minhash_signatures_oph``): O(n) hashing per doc instead of
    O(k·n) — the hash-bound-corpus variant, same downstream plan.
    """
    rows = k // bands
    # The array table feeds signature derivation AND verification;
    # materialize it once (at cluster scale: write the derived table,
    # read it twice) and reuse it across repeated builds in a session.
    arr = _memo_checkpoint(_doc_shingle_arrays(docs), "minhash_arr")
    sig_fn = minhash_signatures_oph if one_perm else minhash_signatures
    sig = sig_fn(arr, k).drop("sh_arr")
    banded = _lsh_banded(sig, bands, rows)
    # Pair generation by bucket grouping (not a self-join): one shuffle
    # on (band, bucket), pairs exploded from each bucket's sorted doc
    # list. Bucket sizes are small by LSH construction, so the in-row
    # combination expansion is bounded.
    bucket_docs = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pair_expr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("ds") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("ds")),
                lambda j: F.struct(
                    F.get("ds", i - 1).alias("doc_a"),
                    F.get("ds", j - 1).alias("doc_b"),
                ),
            ),
        )
    )
    cand = (
        bucket_docs.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    # Materialize the candidate pairs (tiny by LSH construction) so the
    # verification joins don't re-run the signature scan, then BROADCAST
    # them against the array table — the corpus never shuffles again. At
    # cluster scale this is "write the candidate table, broadcast it".
    cand = _memo_checkpoint(cand, "minhash_cand")
    step1 = arr.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("set_a")
    ).join(F.broadcast(cand), "doc_a")
    # Only the BARE pair table is force-broadcast; step1 carries full
    # shingle arrays, and on a skewed corpus a hot bucket could make it
    # non-broadcastable — let AQE pick the strategy from its actual size.
    verified = (
        arr.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("set_b"))
        .join(step1, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("set_a", "set_b"))
                / (
                    F.size("set_a")
                    + F.size("set_b")
                    - F.size(F.array_intersect("set_a", "set_b"))
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


def minhash_near_dup_pairs_portable(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The cross-engine-verifiable twin of ``minhash_near_dup_pairs``:
    identical LSH structure, but the hash family is md5 over string
    shingles with the min taken lexicographically on the hex digest —
    every step has an exact DuckDB equivalent, so the FULL approximate
    pipeline (signatures -> banding -> buckets -> verified pairs) is
    oracle-checked, not just its exact ground truth. The xxhash64
    variant stays the production/bench path (md5 costs ~3x)."""
    rows = k // bands
    sh = (
        _memo_checkpoint(_doc_shingles(docs), "portable_sh")
        if shingles is None
        else shingles
    )
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"h{i}")
            for i in range(k)
        ]
    )
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(",", *[F.col(f"h{b * rows + j}") for j in range(rows)])
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("doc_id", F.explode(band_cols).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )
    bucket_docs = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pair_expr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("ds") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("ds")),
                lambda j: F.struct(
                    F.get("ds", i - 1).alias("doc_a"),
                    F.get("ds", j - 1).alias("doc_b"),
                ),
            ),
        )
    )
    cand = _memo_checkpoint(
        bucket_docs.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct(),
        "portable_cand",
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets = (
        sh.join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("sh_set"))
    )
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("set_a", "set_b"))
                / (
                    F.size("set_a")
                    + F.size("set_b")
                    - F.size(F.array_intersect("set_a", "set_b"))
                ),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash64(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, c0..c3): 64-bit SimHash of the token multiset
    plus its 16-bit chunks for Hamming-LSH blocking.

    Each token hashes once (xxhash64); bit j of the fingerprint is the
    sign of sum over tokens of (+count if hash bit j set else -count).
    One explode + one aggregation — no Python.
    """
    tok = _spread(docs).select(
        "doc_id", F.explode(tokens()).alias("tok")
    ).groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    h = F.xxhash64(F.col("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    chunk_size = SIMHASH_BITS // SIMHASH_CHUNKS
    chunks = [
        sum(
            (
                F.when(F.col(f"s{c * chunk_size + p}") > 0, F.lit(1 << p)).otherwise(
                    F.lit(0)
                )
                for p in range(chunk_size)
            ),
            start=F.lit(0),
        )
        .cast("long")
        .alias(f"c{c}")
        for c in range(SIMHASH_CHUNKS)
    ]
    out = sums.select("doc_id", *chunks)
    fp = sum(
        (F.shiftleft(F.col(f"c{c}"), c * chunk_size) for c in range(SIMHASH_CHUNKS)),
        start=F.lit(0).cast("long"),
    )
    return out.withColumn("simhash", fp)


def simhash_portable_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): SimHash as a 64-char '0'/'1' string, token bits
    drawn from the first 16 hex chars of md5(token) — every step has an
    exact DuckDB equivalent (strpos-on-hex nibble decode), so the full
    fingerprint is cross-engine reproducible. The xxhash64 ``simhash64``
    stays the production path (one cheap long hash vs md5 + 16 string
    ops per token)."""
    tok = (
        _spread(docs)
        .select("doc_id", F.explode(tokens()).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hx = F.md5(F.col("tok"))
    nibs = [
        F.conv(F.substring(hx, q + 1, 1), 16, 10).cast("int").alias(f"n{q}")
        for q in range(16)
    ]
    t2 = tok.select("doc_id", "cnt", *nibs)
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col(f"n{j // 4}"), 3 - j % 4).bitwiseAND(F.lit(1)) == 1,
                F.col("cnt"),
            ).otherwise(-F.col("cnt"))
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = t2.groupBy("doc_id").agg(*bit_sums)
    bits = F.concat(
        *[
            F.when(F.col(f"s{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(SIMHASH_BITS)
        ]
    )
    return sums.select("doc_id", bits.alias("sh"))


def simhash_near_dup_pairs_portable(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """The cross-engine-verifiable twin of ``simhash_near_dup_pairs``:
    same pigeonhole chunk blocking, md5-derived bits. Because Hamming
    <= 3 over 4 chunks GUARANTEES a shared chunk, the blocked output
    equals the quadratic scan exactly — so the DuckDB oracle (which
    does the quadratic scan) checks the whole approximate path."""
    chunk = SIMHASH_BITS // SIMHASH_CHUNKS
    # Materialize the signature table ONCE (r16): the pigeonhole
    # blocking references it 8 times (4 chunk joins x 2 sides), and
    # unmaterialized each reference re-ran the whole md5-bit signature
    # aggregation — measured 4.6 s noop med (12.6 s cold) at sf0.1 vs
    # ~0.6 s materialized; the leg was the actual wall of
    # llm_near_dup_pairs. At scale: write the signature table, then
    # block against it (same framing as the MinHash array table).
    sig = _memo_checkpoint(simhash_portable_signatures(docs), "simhash_sig")
    cands = None
    for c in range(SIMHASH_CHUNKS):
        ck = F.substring("sh", c * chunk + 1, chunk)
        a = sig.select(
            F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), ck.alias("ck")
        )
        b = sig.select(
            F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), ck.alias("ck")
        )
        p = a.join(b, "ck").filter(F.col("doc_a") < F.col("doc_b")).drop("ck")
        cands = p if cands is None else cands.unionByName(p)
    ham = F.aggregate(
        F.zip_with(
            F.split(F.col("sh_a"), ""),
            F.split(F.col("sh_b"), ""),
            lambda x, y: F.when(x != y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).alias("hamming")
    return (
        cands.distinct()
        .select("doc_a", "doc_b", ham)
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """L2: pairs with SimHash Hamming distance <= max_hamming. Blocking
    by the pigeonhole principle: distance <= 3 over 4 chunks implies at
    least one identical 16-bit chunk, so candidates come from 4 chunk
    equi-joins (union) and only candidates pay the popcount check."""
    # materialized once for the same 8-reference reason as the portable
    # twin above (r16)
    sig = _memo_checkpoint(
        simhash64(docs).select("doc_id", "simhash", "c0", "c1", "c2", "c3"),
        "simhash64_sig",
    )
    cands = None
    for c in range(SIMHASH_CHUNKS):
        a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), F.col(f"c{c}").alias("ck"))
        b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), F.col(f"c{c}").alias("ck"))
        p = a.join(b, "ck").filter(F.col("doc_a") < F.col("doc_b")).drop("ck")
        cands = p if cands is None else cands.unionByName(p)
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
    return (
        cands.distinct()
        .select("doc_a", "doc_b", ham)
        .filter(F.col("hamming") <= max_hamming)
    )


#: rounds the most recent near_dup_clusters call took to converge
#: (including the final confirming round) — instrumentation so tests
#: can pin the pointer-jumping round-count cut (r16).
_LAST_CC_ROUNDS: list[int] = [0]


def near_dup_clusters(
    docs: DataFrame, pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(doc_id, cluster_id): connected components of the near-dup pair
    graph — cluster_id = min doc_id in the component; singletons keep
    their own id. The training-pipeline form of dedup: keep ONE doc per
    cluster, not merely drop pair-members.

    HashMin label propagation with ADAPTIVE POINTER JUMPING (path
    halving): each round every node takes the min label among itself
    and its neighbors; from round 3 on (a component deeper than the
    common near-dup case is then proven) every label is additionally
    replaced by its label's label (``label <- label[label]``) — the
    classic shortcut that turns convergence from O(diameter) rounds
    into O(log diameter) (r16 optimization, guide §2: each round is a
    shuffle + checkpoint + driver action, so rounds are the unit of
    cost). The jump cannot change the fixpoint: labels stay monotone
    non-increasing (every label value is itself a node whose label is
    <= it), a HashMin fixpoint is jump-stable (label[min] = min), and
    the unique fixpoint of both operators is cluster_id = min doc_id
    per component — so the OUTPUT is identical, only the round count
    drops. sum(label) stays the one-scalar convergence certificate
    (monotone labels: equal sum <=> pointwise equal <=> fixpoint).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .transform(lambda d: materialize(d, "cc_edges"))
    )
    labels = materialize(
        docs.select(
            F.col("doc_id").alias("node"), F.col("doc_id").alias("label")
        ),
        "cc_labels",
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        prop = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        merged = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        if rounds >= 3:
            # pointer jump: label <- label[label]. Every label value is
            # a node id (labels start as doc ids and min() keeps them
            # doc ids), so the self-join always finds the parent row;
            # the left join + coalesce is belt-and-braces, not a
            # semantic choice. ADAPTIVE (r16 A/B): near-dup components
            # are usually diameter <= 2 and converge in 2 rounds of
            # plain HashMin — jumping there is a pure extra join per
            # round (measured +0.5 s on the sf0.1 fixture) — so the
            # jump engages only once round 3 proves a deeper component,
            # where it turns the remaining convergence logarithmic.
            parent = merged.select(
                F.col("node").alias("__p_node"),
                F.col("label").alias("__p_label"),
            )
            merged = merged.join(
                parent, merged["label"] == F.col("__p_node"), "left"
            ).select(
                "node",
                F.coalesce("__p_label", "label").alias("label"),
            )
        labels = materialize(merged, "cc_labels")
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    _LAST_CC_ROUNDS[0] = rounds
    if not converged:
        # Silent non-convergence would return wrong cluster ids on
        # long chain-shaped components (diameter > max_iter).
        raise RuntimeError(
            f"near_dup_clusters did not converge within max_iter={max_iter} "
            "rounds (component diameter exceeds the budget); raise max_iter"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def contamination_overlap(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.05,
    portable: bool = False,
) -> DataFrame:
    """Training-set decontamination: for every training doc, the count
    and fraction of its distinct word n-grams that also occur anywhere
    in the benchmark/eval corpus, plus a ``contaminated`` flag at
    ``frac_overlap >= threshold`` (the GPT-3-style n-gram overlap
    check; n=13 in the paper, n=3 here to suit the tiny test corpus).

    Scale shape — the benchmark side is eval sets, i.e. tiny next to a
    100 TB training corpus, so it drives a BROADCAST semi-ish join:
    1. distinct benchmark n-gram hashes (one small shuffle of the
       benchmark only);
    2. training docs explode to (doc_id, shingle-hash) and inner-join
       the broadcast benchmark set — map-side, corpus never shuffles;
    3. matched shingles only (a tiny fraction) aggregate per doc_id,
       then join back onto the per-doc totals.
    The training corpus is scanned once, shuffled never (the per-doc
    totals derive map-side from the same scan via the shingle array).
    No analog in the reference (419-line ETL, video_processor.py);
    built for the LLM-curation surface alongside MinHash dedup.

    ``portable=True`` keeps shingles as raw n-gram strings instead of
    xxhash64 longs — byte-identical replayable in the DuckDB oracle
    (the production hash form trades that for ~8-byte keys).
    """
    tok = tokens()
    if portable:
        sh_col = word_shingles(tok, n)
    else:
        # per-doc distinct n-gram hash array, map-side (shares the
        # xxhash64 long-hash convention of _doc_shingle_arrays:
        # collisions p~n^2/2^65); same short-doc guard as
        # word_shingles — sequence(1, 0) counts DOWN
        # let-bound like word_shingles: unbound, every n-gram's n gets
        # re-ran the tokenization (O(n^2) per doc — r15)
        from ..operators.hll import _let

        sh_col = _let(
            tok,
            lambda t: F.when(
                F.size(t) >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(t) - (n - 1)),
                        lambda i: F.xxhash64(
                            *[F.get(t, i + j - 1) for j in range(n)]
                        ),
                    )
                ),
            ).otherwise(F.array().cast("array<bigint>")),
        )
    # every training doc keeps a row — a short doc (under n tokens)
    # carries n_shingles=0 / contaminated=false rather than vanishing:
    # the first cut filtered them out entirely, so a pipeline joining
    # the flags back (or filtering NOT contaminated over a left join's
    # NULLs) silently dropped short docs from the training set with no
    # signal (r15 review)
    doc_arr = _spread(docs).select("doc_id", sh_col.alias("sh_arr"))
    bench_sh = (
        benchmark.filter(F.size(tok) >= n)
        .select(F.explode(sh_col).alias("sh"))
        .distinct()
    )
    doc_sh = doc_arr.select("doc_id", F.explode("sh_arr").alias("sh"))
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    frac = F.when(F.col("n_shingles") == 0, F.lit(0.0)).otherwise(
        F.coalesce("n_overlap", F.lit(0)) / F.col("n_shingles")
    )
    return (
        doc_arr.select("doc_id", F.size("sh_arr").alias("n_shingles"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(frac, 6).alias("frac_overlap"),
            (frac >= F.lit(threshold)).alias("contaminated"),
        )
    )


def segment_dedup(
    docs: DataFrame, seg_len: int = 3, max_occurrences: int = 2
) -> DataFrame:
    """Corpus-level duplicate-segment removal (the C4 "dedupe repeated
    lines/paragraphs across documents" pass, Raffel et al. 2020 §2.2):
    split every doc into consecutive segments, count each distinct
    segment's occurrences across the WHOLE corpus, drop segments seen
    more than ``max_occurrences`` times, and reassemble each doc from
    its surviving segments in original order.

    Segmentation is a parameter of the op: real crawl text splits on
    newlines (``F.split("text", "\\n")``); this corpus has none, so the
    unit is fixed ``seg_len``-token chunks — the pipeline shape is
    identical either way.

    Scale shape (the part that matters at 100 TB):
    1. per-doc (pos, segment) arrays derive map-side; explode — narrow;
    2. segment counts via groupBy(segment) with map-side partial
       aggregation — the only corpus-wide shuffle carries (segment,
       count) partials, not documents;
    3. the blacklist (count > max_occurrences) is the heavy-hitter
       set — tiny relative to the corpus (dup segments are the
       exception, not the rule), so the anti-join back onto the
       exploded corpus is AQE-broadcastable; no second corpus shuffle
       for counting. No forced broadcast: AQE picks from actual size.
    4. reassembly is one groupBy(doc_id) of surviving segments
       (array_sort on (pos, seg) structs restores order).

    Output per doc: segment totals, survivor count, and the cleaned
    token stream's length + order-sensitive polynomial fingerprint
    (proves reassembly order without shipping full text).
    """
    from .text import FP_BASE, FP_MOD

    from ..operators.hll import _let

    tok = tokens()
    n = F.size(tok)
    n_segs = F.ceil(n / F.lit(float(seg_len))).cast("int")
    # segs re-derives n_segs from the BOUND array inside the let:
    # let-bound token array, because every segment's slice otherwise
    # re-ran the tokenization — O(n^2 / seg_len) characters per doc (r15)
    segs = _let(
        tok,
        lambda t: F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(t) / F.lit(float(seg_len))).cast("int") - 1,
            ),
            lambda i: F.struct(
                i.alias("pos"),
                F.concat_ws(
                    " ", F.slice(t, i * seg_len + 1, seg_len)
                ).alias("seg"),
            ),
        ),
    )
    ex = (
        docs.filter(n >= 1)
        .select("doc_id", n.cast("long").alias("n_tokens"), F.explode(segs).alias("s"))
        .select("doc_id", "n_tokens", F.col("s.pos").alias("pos"), F.col("s.seg").alias("seg"))
    )
    blacklist = (
        ex.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") > max_occurrences)
        .select("seg")
    )
    kept = ex.join(blacklist, "seg", "left_anti")
    tok_val = lambda x: (F.length(x) * 31 + F.ascii(x)).cast("long")  # noqa: E731
    cleaned = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
        ).alias("cleaned_text"),
    )
    # all-segments-removed docs miss the left join -> NULL cleaned_text;
    # coalesce so their counts/fingerprint come out 0, not NULL
    cleaned_tok = F.filter(
        F.split(F.coalesce("cleaned_text", F.lit("")), " "),
        lambda x: x != "",
    )
    return (
        docs.filter(n >= 1)
        .select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            n_segs.cast("long").alias("n_segs"),
        )
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_segs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.size(cleaned_tok).cast("long").alias("cleaned_n_tokens"),
            F.aggregate(
                cleaned_tok,
                F.lit(0).cast("long"),
                lambda acc, x: (acc * FP_BASE + tok_val(x)) % FP_MOD,
            ).alias("cleaned_fp"),
        )
    )


def streaming_near_dup_flags(
    incoming: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """In-flight near-dup detection: flag each INCOMING document that
    is a near-duplicate of the STATIC reference corpus — the admission
    filter a training-data ingestion pipeline runs before appending to
    its corpus. Works identically when ``incoming`` is an unbounded
    stream (the intended mode) or a batch relation (the test twin).

    Design — deliberately ZERO streaming state:
    1. the static side builds its LSH index once per (micro-)batch
       plan: banded bucket table joined with its shingle arrays;
    2. each incoming doc derives shingle array + signatures + band
       buckets MAP-SIDE (the same narrow expressions as the batch
       MinHash path — no repartition on streams);
    3. a stream–static equi-join on (band, bucket) proposes candidate
       (incoming, corpus) matches, exact Jaccard verifies them from
       the two in-row arrays.
    A pair sharing several bands is flagged once per shared band
    (at-least-once per pair); dedup is left to the downstream consumer
    (`.dropDuplicates` in batch, a keyed sink upsert in streaming) —
    keeping THIS operator stateless is what makes its streaming cost
    bounded per row regardless of stream length. At 100 TB-corpus
    scale the static index is a bucketed table and the join co-locates
    on (band, bucket); at test scale AQE broadcasts it.
    """
    rows = k // bands

    def banded_of(sig: DataFrame) -> DataFrame:
        band_cols = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[F.col(f"h{b * rows + j}") for j in range(rows)]
                    ).alias("bucket"),
                )
                for b in range(bands)
            ]
        )
        keep = [c for c in sig.columns if not c.startswith("h")]
        return sig.select(*keep, F.explode(band_cols).alias("bb")).select(
            *keep, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )

    sarr = _doc_shingle_arrays(corpus)
    sidx = banded_of(minhash_signatures(sarr, k)).select(
        F.col("doc_id").alias("corpus_id"),
        F.col("sh_arr").alias("corpus_arr"),
        "band",
        "bucket",
    )
    qsig = minhash_signatures(_doc_shingle_arrays(incoming), k)
    qbanded = banded_of(qsig)
    inter = F.size(F.array_intersect("sh_arr", "corpus_arr"))
    return (
        qbanded.join(sidx, ["band", "bucket"])
        .filter(F.col("doc_id") != F.col("corpus_id"))
        .select(
            "doc_id",
            "corpus_id",
            "band",
            F.round(
                inter
                / (F.size("sh_arr") + F.size("corpus_arr") - inter),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
