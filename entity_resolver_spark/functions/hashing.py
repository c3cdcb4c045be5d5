"""Hashing primitives: content hashes, hashed-TF vectors, MinHash, Hamming.

Reference parity:
* ``hash_string`` (xxh3-128 hex with empty->'NULL' sentinel,
  /root/reference/src/preprocessing.py:30-52) -> native ``F.xxhash64`` with
  real NULLs. 64 bits suffice at any realistic corpus (collision p < 1e-7 at
  10^9 distinct values, and collisions only over-merge a dedup group, never
  corrupt pair scoring).
* OpenAI embeddings (src/embedding_and_indexing.py:545-588) -> deterministic
  hashed term-frequency vectors (log-scaled, L2-normalized): "cosine over
  hashed TF". Built natively: explode -> hash-bucket -> count -> dense array.
* Weaviate HNSW ANN -> MinHash over word shingles, banded for LSH
  (src/classifying.py:1663-1833 is the stage being replaced).

Everything here is a pure column expression — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def content_hash(col: Column | str) -> Column:
    """64-bit content hash with NULL/empty discipline (empty -> NULL, unlike
    the reference's 'NULL' string sentinel — real NULLs compose with joins)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when((c.isNull()) | (c == ""), F.lit(None).cast("long")).otherwise(
        F.xxhash64(c)
    )


def bucket_expr(token: Column, dim: int) -> Column:
    """Stable hash bucket in [0, dim) for a token."""
    return F.pmod(F.xxhash64(token), F.lit(dim)).cast("int")


def hashed_tf_vectors(
    df: DataFrame,
    id_col: str | list[str],
    tokens_col: str,
    dim: int,
    idf: bool = True,
    max_entries: int = 64,
) -> DataFrame:
    """(id, tokens array<string>) -> (id, vector map<int,double>) hashed-TF.

    ``id_col`` may be a composite key (list of columns) — e.g. the context
    vectors keyed on (text_hash, name_hash), see features._VEC_KEY.

    SPARSE representation: hash bucket -> log-scaled TF weight (1 + ln n),
    L2-normalized so downstream cosine is a plain sparse dot product
    (``sparse_cosine_expr``). Sparse maps beat dense arrays here twice over:
    a transcript touches ~10^2 distinct buckets of the 2^couple-thousand
    space, so shuffle width shrinks ~5-10x, and the map is built once inside
    the aggregate (a dense ``transform(sequence(0,dim))`` materialization gets
    re-inlined per element by CollapseProject and is not codegen'd — measured
    pathological). One shuffle total.
    """
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    exploded = df.select(
        *ids, F.explode(F.col(tokens_col)).alias("_tok")
    ).select(*ids, bucket_expr(F.col("_tok"), dim).alias("_b"))
    tf = exploded.groupBy(*ids, "_b").agg(
        (1.0 + F.log(F.count(F.lit(1)))).alias("_w")
    )
    if idf:
        # Smoothed IDF per bucket: ln((N+1)/(df+1)) + 1. Corpus-common filler
        # vocabulary otherwise dominates the dot product and washes out the
        # topical signal (this replaces what a trained embedding model gives
        # the reference for free). Two cheap aggregates; the df table is tiny
        # (<= dim rows) and broadcast-joined.
        # countDistinct over bare columns SKIPS rows where any column is
        # NULL — with (text_hash, name_hash) keys and a nameless corpus that
        # made n_docs 0 and inverted every IDF weight. The struct form counts
        # NULL fields as values.
        n_docs = df.select(F.countDistinct(F.struct(*ids)).alias("_n"))
        dfreq = (
            tf.groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_df"))
            .crossJoin(F.broadcast(n_docs))
            .select(
                "_b",
                (F.log((F.col("_n") + 1.0) / (F.col("_df") + 1.0)) + 1.0).alias("_idf"),
            )
        )
        tf = tf.join(F.broadcast(dfreq), "_b").select(
            *ids, "_b", (F.col("_w") * F.col("_idf")).alias("_w")
        )
    # Truncate to the max_entries highest-weight buckets BEFORE normalizing:
    # with IDF weighting the tail carries little cosine mass, and per-pair
    # cost downstream (map_zip_with is interpreted, not codegen'd) plus
    # shuffle width scale linearly with map size.
    entries = F.slice(
        F.reverse(F.array_sort(F.collect_list(F.struct("_w", "_b")))),
        1,
        max_entries,
    )
    vec = tf.groupBy(*ids).agg(
        F.map_from_entries(
            F.transform(entries, lambda e: F.struct(e["_b"], e["_w"]))
        ).alias("_m")
    )
    norm = F.sqrt(
        F.aggregate(F.map_values("_m"), F.lit(0.0), lambda a, v: a + v * v)
    )
    unit = F.map_from_arrays(
        F.map_keys("_m"),
        F.transform(F.map_values("_m"), lambda v: v / norm),
    )
    return vec.select(*ids, unit.alias("vector"))


def sparse_cosine_expr(a: Column, b: Column) -> Column:
    """Cosine of two L2-normalized sparse map<int,double> vectors: the dot
    product over the key union via ``map_zip_with`` (absent key -> 0), clamped
    to [0,1]. NULL if either side is NULL (callers decide the fallback,
    mirroring the reference's missing-vector 0.5 policy,
    src/feature_engineering.py:930-948)."""
    dot = F.aggregate(
        F.map_values(
            F.map_zip_with(
                a, b,
                lambda _, x, y: F.coalesce(x, F.lit(0.0)) * F.coalesce(y, F.lit(0.0)),
            )
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(
        a.isNull() | b.isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(dot, F.lit(0.0)), F.lit(1.0)))


def shingles_expr(tokens: Column, k: int) -> Column:
    """Word k-shingles from a token array: ["a","b","c","d"], k=3 ->
    ["a b c", "b c d"]. Short texts fall back to the whole token string so
    every record has at least one shingle."""
    n = F.size(tokens)
    windows = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, k)),
    )
    return F.when(n >= k, windows).otherwise(F.array(F.concat_ws(" ", tokens)))


def minhash_signature(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    n_hashes: int,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """(id, shingles) -> (id, sig array<long>[n_hashes]).

    explode + groupBy with n_hashes min-aggregates — the 100-TB shape AND the
    fast local shape: every hash runs inside whole-stage codegen, and because
    min() partial-aggregates map-side, the shuffle carries one partially
    reduced row per (mapper, id) — the corpus text itself never shuffles.

    ``carry_cols``: extra per-id columns to carry through the aggregate
    (functionally dependent on id; carried via first()).
    """
    carry = carry_cols or []
    exploded = df.select(
        F.col(id_col), F.explode(F.col(shingles_col)).alias("_s"), *carry
    )
    aggs = [
        F.min(F.xxhash64(F.col("_s"), F.lit(i))).alias(f"_h{i}")
        for i in range(n_hashes)
    ] + [F.first(c).alias(c) for c in carry]
    sig = exploded.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"_h{i}") for i in range(n_hashes)]).alias("sig"),
        *carry,
    )


def lsh_band_keys(sig: Column, n_hashes: int, bands: int) -> Column:
    """Split a MinHash signature into LSH bands; each band key is the hash of
    its rows prefixed by the band index. Returns array<string> of band keys.

    Built as one ``transform`` over band indices with ``slice(sig, ...)`` in
    the lambda, so the expression tree references ``sig`` exactly ONCE.
    Unrolling per-band (``sig[i]`` per element) re-inlines the whole upstream
    signature aggregate per reference via CollapseProject — measured ~10x the
    plan-analysis/codegen wall on the fused blocking projection.
    """
    rows = n_hashes // bands

    def band_key(b: Column) -> Column:
        parts = F.transform(
            F.slice(sig, b * rows + 1, rows), lambda x: x.cast("string")
        )
        return F.concat_ws(
            ":",
            F.concat(F.lit("b"), b.cast("string")),
            F.xxhash64(F.concat_ws("_", parts)).cast("string"),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), band_key)


def hamming64_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHash values (native bit_count)."""
    return F.bit_count(a.bitwiseXOR(b))


def kmv_sketch_expr(tokens: Column, shingle_k: int, sketch_k: int) -> Column:
    """Bottom-k (KMV) sketch of a token array's distinct word k-shingles:
    the ``sketch_k`` smallest 31-bit hash values, ascending. Fixed-width
    (<= 4 * sketch_k bytes), order-canonical, computable in one projection —
    the per-record carrier for map-side set-similarity estimation (the
    classic KMV/bottom-k construction; same family as the MinHash signatures
    the blocking passes use, but composable into a UNION sketch, which the
    one-permutation-per-slot signature is not).

    Values are the TOP 31 bits of xxhash64 (``shiftrightunsigned`` 33 —
    uniform, non-negative, int32-storable): the KMV estimator only needs a
    uniform hash order, and int32 elements HALVE everything downstream of
    this column — the broadcast side-table bytes, the per-pair Arrow
    transfer (2 x sketch_k x 4B instead of 8B rides every candidate pair
    into the Python workers), and the kernel's sort/scan traffic. Measured
    at the 72k protocol corpus this stage is Arrow-volume-bound, not
    kernel-bound. The 31-bit space doubles within-document hash-collision
    odds vs 64-bit but stays negligible (a ~200-shingle record collides
    with p ~ 1e-5); ``array_distinct`` AFTER hashing (cheap, per-record)
    restores the per-side-distinct invariant the pair kernel relies on when
    a collision does land. A real element can still equal the kernel's
    int32-max padding sentinel with p = 2^-31 per element — the same
    accepted policy as the previous int64-max sentinel. ``sort_array``, not
    ``array_sort``: the latter carries a lambda comparator and falls off
    the codegen path; ``array_distinct`` of a sorted array stays sorted."""
    sh = F.array_distinct(shingles_expr(tokens, shingle_k))
    hashes = F.sort_array(
        F.transform(
            sh, lambda s: F.shiftrightunsigned(F.xxhash64(s), 33).cast("int")
        )
    )
    return F.slice(F.array_distinct(hashes), 1, sketch_k)


def kmv_jaccard_expr(a: Column, b: Column, sketch_k: int) -> Column:
    """KMV Jaccard estimate from two bottom-k sketches: restrict to the
    bottom-k of the UNION (a uniform sample of A ∪ B under the shared hash
    order) and count how many of those sampled elements lie in both sets.
    Exact when |A ∪ B| <= k; std ≈ sqrt(J(1-J)/k) beyond. NULL if either
    sketch is NULL (callers coalesce to their missing-value policy).

    REFERENCE SEMANTICS ONLY — the hot path uses the numerically identical
    Arrow kernel (``similarity.make_kmv_jaccard_pudf``, equivalence-tested
    against this form): array_union/array_intersect are CodegenFallback
    expressions (interpreted, boxing, a hash set per evaluation) and
    CollapseProject re-inlines the union per consumer — measured
    ~450us/pair, unusable at 10^7 candidate pairs."""
    u = F.slice(F.sort_array(F.array_union(a, b)), 1, sketch_k)
    inter = F.array_intersect(u, F.array_intersect(a, b))
    return F.when(
        a.isNull() | b.isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.when(F.size(u) > 0, F.size(inter) / F.size(u)).otherwise(F.lit(0.0))
    )
