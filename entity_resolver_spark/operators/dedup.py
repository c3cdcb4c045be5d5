"""Document deduplication operators for large-scale training-data pipelines.

The reference's preprocessing is itself a dedup engine (hash every field
value once, /root/reference/src/preprocessing.py:144-210); these operators
generalize that to document corpora at 100 TB scale:

* exact_dedup        — hash-groupBy on normalized text (the reference's
                       string_dict mechanism).
* minhash_dedup      — MinHash + banded LSH + bucket self-join, the standard
                       web-scale near-dup pipeline (shingle -> minhash ->
                       band -> bucket-join).
* simhash_pairs      — 60-bit SimHash (md5-derived, DuckDB-reproducible) +
                       Hamming-distance candidate pairs via banding with
                       n_bands >= max_hamming + 1 (exact recall contract).
* ngram_jaccard_pairs— exact n-gram Jaccard via explode + self-join +
                       intersection/union counting (no hashing, SQL-oracle
                       friendly; the verification step after LSH).
* embedding_near_dup — cosine near-dup over an embedding column: SRP-LSH
                       bucketed candidate generation (reuses lsh_topk's
                       machinery) + exact cosine verification >= threshold.

All are pure DataFrame plans; skew-prone self-joins go through the same
hot-block splitting as entity blocking.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolver_spark.functions.hashing import (
    hamming64_expr,
    lsh_band_keys,
    minhash_signature,
    shingles_expr,
)
from entity_resolver_spark.functions.normalize import normalize_expr, tokens_expr
from entity_resolver_spark.operators.blocking import pairs_from_blocks


SIMHASH_BITS = 60


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, fp) — 60-bit SimHash per doc, fully native (no Python UDF).

    Token hash = first 15 hex chars of md5 (60 bits — fits a signed long and,
    deliberately, is bit-for-bit reproducible in DuckDB:
    ``CAST('0x'||substr(md5(t),1,15) AS BIGINT)`` equals Spark's
    ``conv(substring(md5(t),1,15),16,10)``), so the whole operator is
    SQL-oracle-checkable. Per-bit votes via explode + groupBy with 60 sum
    aggregates — the same codegen'd map-side-combine shape as MinHash
    (functions/hashing.minhash_signature); the token text never shuffles.
    """
    toks = docs.select(
        F.col(id_col).alias("id"),
        tokens_expr(normalize_expr(F.col(text_col))).alias("_t"),
    )
    ex = toks.select("id", F.explode_outer("_t").alias("_tok"))
    h = F.conv(F.substring(F.md5(F.col("_tok")), 1, 15), 16, 10).cast("long")
    vote = lambda b: F.sum(  # noqa: E731
        F.when(
            F.col("_tok").isNull(), F.lit(0)
        ).otherwise(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1
        )
    ).alias(f"_v{b}")
    votes = ex.groupBy("id").agg(*[vote(b) for b in range(SIMHASH_BITS)])
    fp = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return votes.select("id", fp.alias("fp"))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per distinct normalized text. Returns
    (doc_id, canonical_id, n_dups) for every doc (canonical rows included)."""
    h = F.xxhash64(normalize_expr(F.col(text_col)))
    hashed = docs.select(F.col(id_col), h.alias("_h"))
    canon = hashed.groupBy("_h").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups")
    )
    return hashed.join(canon, "_h").select(id_col, "canonical_id", "n_dups")


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH: (left, right,
    est_jaccard) where est_jaccard is the signature-agreement estimate."""
    toks = docs.select(
        F.col(id_col).alias("id"), tokens_expr(normalize_expr(F.col(text_col))).alias("_t")
    )
    sh = toks.select("id", shingles_expr(F.col("_t"), shingle_k).alias("_sh"))
    sig = minhash_signature(sh, "id", "_sh", n_hashes).persist()
    keys = lsh_band_keys(F.col("sig"), n_hashes, bands)
    pairs = pairs_from_blocks(
        sig.select(F.col("id").alias("conv_id"), F.explode(keys).alias("block_key"))
    )
    l = sig.select(F.col("id").alias("left"), F.col("sig").alias("l_sig"))
    r = sig.select(F.col("id").alias("right"), F.col("sig").alias("r_sig"))
    est = F.aggregate(
        F.zip_with("l_sig", "r_sig", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(n_hashes)
    return (
        pairs.join(l, "left").join(r, "right")
        .select("left", "right", est.cast("double").alias("est_jaccard"))
    )


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: ALL doc pairs whose 60-bit SimHashes are
    within ``max_hamming`` bits (exact recall contract). Classic band trick:
    the fingerprint is split into ``n_bands`` contiguous bit ranges; a pair
    within Hamming distance ``n_bands - 1`` must agree exactly on >= 1 band
    (pigeonhole), so a per-band equi-join finds all candidates without an
    O(n^2) scan. ``n_bands`` therefore DERIVES from the contract:
    ``max(n_bands or 0, max_hamming + 1)`` — a caller-supplied band count can
    only add bands (finer recall), never silently under-recall (the r2 bug:
    fixed 4 bands with max_hamming 6 missed pairs whose differing bits spread
    2+2+1+1 across bands)."""
    bands_n = max(n_bands or 0, max_hamming + 1)
    base_w = SIMHASH_BITS // bands_n
    if base_w == 0:
        raise ValueError(
            f"max_hamming={max_hamming} needs more bands than {SIMHASH_BITS} bits"
        )
    fp = simhash_fingerprints(docs, id_col, text_col).persist()
    bands = None
    for b in range(bands_n):
        start = b * base_w
        width = base_w if b < bands_n - 1 else SIMHASH_BITS - start
        part = fp.select(
            "id", "fp",
            F.concat_ws(
                ":", F.lit(str(b)),
                F.shiftright("fp", start)
                .bitwiseAND(F.lit((1 << width) - 1))
                .cast("string"),
            ).alias("bk"),
        )
        bands = part if bands is None else bands.unionByName(part)
    pairs = (
        bands.alias("a")
        .join(bands.select("bk", F.col("id").alias("rid"), F.col("fp").alias("rfp")).alias("b"), "bk")
        .where(F.col("id") < F.col("rid"))
        .select(
            F.col("id").alias("left"),
            F.col("rid").alias("right"),
            hamming64_expr(F.col("fp"), F.col("rfp")).alias("hamming"),
        )
        .dropDuplicates(["left", "right"])
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def embedding_near_dup(
    docs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_tables: int = 8,
    n_bits: int = 8,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: (left, right, cos_sim >= threshold).

    Scale path (default): signed-random-projection buckets (broadcast
    hyperplane tables, same construction as similarity_search.lsh_topk) —
    near-identical vectors agree on every sign bit w.h.p., so candidates come
    from an equi-join on (table, bucket), never an all-pairs product; exact
    cosine then verifies. ``exact=True`` switches candidate generation to the
    full self-join — the small-corpus/oracle baseline.
    """
    from entity_resolver_spark.functions.similarity import cosine_expr

    c = docs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if exact:
        cand = (
            c.select(F.col("_id").alias("left"))
            .crossJoin(c.select(F.col("_id").alias("right")))
            .where(F.col("left") < F.col("right"))
        )
    else:
        dim = len(docs.select(vec_col).first()[0])
        rng = np.random.RandomState(seed)
        planes_df = docs.sparkSession.createDataFrame(
            [(t, rng.normal(size=(n_bits, dim)).tolist()) for t in range(n_tables)],
            "tbl int, planes array<array<double>>",
        )
        v = F.col("_v").cast("array<double>")
        dot = lambda a, b: F.aggregate(  # noqa: E731
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        bkt = F.array_join(
            F.transform(
                F.col("planes"),
                lambda p: F.when(dot(v, p) >= 0, F.lit("1")).otherwise(F.lit("0")),
            ),
            "",
        )
        b = c.crossJoin(F.broadcast(planes_df)).select(
            "_id", F.col("tbl"), bkt.alias("bkt")
        )
        cand = (
            b.alias("a")
            .join(b.select(F.col("_id").alias("_rid"), "tbl", "bkt").alias("r"), ["tbl", "bkt"])
            .where(F.col("_id") < F.col("_rid"))
            .select(F.col("_id").alias("left"), F.col("_rid").alias("right"))
            .dropDuplicates(["left", "right"])
        )
    l = c.select(F.col("_id").alias("left"), F.col("_v").alias("_lv"))
    r = c.select(F.col("_id").alias("right"), F.col("_v").alias("_rv"))
    sim = cosine_expr(
        F.col("_lv").cast("array<double>"), F.col("_rv").cast("array<double>")
    )
    return (
        cand.join(l, "left")
        .join(r, "right")
        .select("left", "right", sim.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact word-k-gram Jaccard for given candidate pairs (left, right):
    explode distinct shingles per side, count intersection via join, compute
    |A∩B| / (|A| + |B| - |A∩B|). This is the LSH verification step — exact,
    set-based, SQL-expressible (DuckDB oracle runs the same logic)."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(
                shingles_expr(tokens_expr(normalize_expr(F.col(text_col))), shingle_k)
            )
        ).alias("g"),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("left"), "g")
    b = sh.select(F.col("id").alias("right"), "g")
    inter = (
        candidates.join(a, "left").join(b, ["right", "g"])
        .groupBy("left", "right")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("left"), F.col("n").alias("n_left"))
    sb = sizes.select(F.col("id").alias("right"), F.col("n").alias("n_right"))
    return (
        candidates.join(inter, ["left", "right"], "left")
        .join(sa, "left")
        .join(sb, "right")
        .select(
            "left",
            "right",
            (
                F.coalesce(F.col("n_inter"), F.lit(0))
                / (F.col("n_left") + F.col("n_right") - F.coalesce(F.col("n_inter"), F.lit(0)))
            ).alias("jaccard"),
        )
    )
