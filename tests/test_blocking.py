"""Blocking: recall of labeled true pairs, canonicalization, skew guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolver_spark.config import MINHASH_BANDS, EngineConfig
from entity_resolver_spark.operators.blocking import (
    all_blocks,
    blocking_recall,
    pairs_from_blocks,
    split_hot_blocks,
)
from entity_resolver_spark.plans.pipeline import stage_pairs


def test_blocking_recall_is_total(spark, records, labeled):
    """Every labeled true pair must share >=1 blocking key (the north_rule
    judges F1 'at identical blocking keys' — blocking must not lose pairs)."""
    pairs = stage_pairs(records, EngineConfig())[0]
    assert blocking_recall(pairs, labeled) == 1.0


def test_pairs_are_canonical_and_deduped(spark, records):
    pairs = stage_pairs(records, EngineConfig())[0]
    assert pairs.where(F.col("left") >= F.col("right")).count() == 0
    assert pairs.count() == pairs.dropDuplicates(["left", "right"]).count()


def test_blocking_reduces_comparisons(spark):
    """Reduction ratio improves with corpus size (name and rare-shingle
    blocks stay small while the all-pairs count grows quadratically): assert
    at 200 entities. The conftest 20-entity corpus is too small for a
    reduction claim — its 55 records are a handful of dense families."""
    from entity_resolver_spark import datagen
    from entity_resolver_spark.operators.transcripts import build_entity_records

    data = datagen.generate(n_entities=200, seed=7)
    recs = build_entity_records(datagen.to_spark(spark, data["transcripts"]))
    n = recs.count()
    pairs = stage_pairs(recs, EngineConfig())[0].count()
    assert pairs < n * (n - 1) / 2 * 0.2, "blocking should prune >=80% of pairs"


def test_hot_block_split_bounds_block_size(spark):
    cfg = EngineConfig(max_block_size=10)
    blocks = spark.createDataFrame(
        [(f"id{i:03d}", "hot") for i in range(100)]
        + [(f"id{i:03d}", "cold") for i in range(5)],
        ["conv_id", "block_key"],
    )
    salted = split_hot_blocks(blocks, cfg)
    sizes = salted.groupBy("block_key").count().collect()
    assert max(r["count"] for r in sizes) <= cfg.max_block_size
    # every member kept (hot members appear in both offset bucketings)
    assert salted.select("conv_id").distinct().count() == 100
    # cold block untouched
    assert salted.where(F.col("block_key") == "cold").count() == 5


def test_hot_block_split_keeps_rank_neighbors_and_counts_forgone(spark):
    """Members within cap/2 ranks must still share a sub-block, and
    hot_block_metrics' forgone-pair count must equal the EXACT number of
    pairs the split dropped (cross-checked by brute force)."""
    from entity_resolver_spark.operators.blocking import hot_block_metrics

    cfg = EngineConfig(max_block_size=10)
    n = 47  # non-multiple of cap: exercises partial buckets
    blocks = spark.createDataFrame(
        [(f"id{i:03d}", "hot") for i in range(n)], ["conv_id", "block_key"]
    )
    salted = split_hot_blocks(blocks, cfg)
    retained = pairs_from_blocks(salted).count()
    # neighbor guarantee: ranks are conv_id order here (no skey column)
    got = {
        (r["left"], r["right"]) for r in pairs_from_blocks(salted).collect()
    }
    h = cfg.max_block_size // 2
    for i in range(n - 1):
        for j in range(i + 1, min(i + h + 1, n)):
            assert (f"id{i:03d}", f"id{j:03d}") in got, (i, j)
    m = hot_block_metrics(blocks, cfg).collect()[0]
    assert m["n_hot_blocks"] == 1
    assert m["hot_rows"] == n
    assert m["forgone_pairs"] == n * (n - 1) // 2 - retained


def test_forgone_pairs_exact_for_odd_caps(spark):
    """The rank-split retained-pair closed form must be exact for ODD caps
    too (ADVICE r3: the two offset bucketings' common refinement is the
    uniform h-grid only when cap == 2h; odd caps have alternating segment
    widths cap-h and h — the old formula undercounted forgone pairs, e.g.
    cap=5, n=17 retained 47 but the formula said 52)."""
    from entity_resolver_spark.operators.blocking import hot_block_metrics

    for cap, n in [(5, 17), (5, 23), (7, 30), (9, 100), (10, 47), (11, 11 * 32)]:
        cfg = EngineConfig(max_block_size=cap)
        blocks = spark.createDataFrame(
            [(f"id{i:04d}", "hot") for i in range(n)], ["conv_id", "block_key"]
        )
        retained = pairs_from_blocks(split_hot_blocks(blocks, cfg)).count()
        m = hot_block_metrics(blocks, cfg).collect()[0]
        assert m["forgone_pairs"] == n * (n - 1) // 2 - retained, (cap, n)


def test_pairs_from_blocks_within_block_only(spark):
    blocks = spark.createDataFrame(
        [("a", "k1"), ("b", "k1"), ("c", "k2"), ("d", "k2"), ("e", "k3")],
        ["conv_id", "block_key"],
    )
    got = {
        (r["left"], r["right"])
        for r in pairs_from_blocks(blocks).collect()
    }
    assert got == {("a", "b"), ("c", "d")}


def test_golden_pair_blocks_together(spark):
    """FIXTURES.md §5: 'Schubert, Franz' vs 'Schubert, Franz, 1797-1828' must
    share a block despite different raw names (the reference's inline
    regression case, src/classifying.py:979-982)."""
    from entity_resolver_spark.operators.transcripts import build_entity_records

    rows = [
        ("g1", 0, "user", "Schubert, Franz. symphony vienna lieder composition", None, None),
        ("g1", 1, "assistant", "symphony vienna lieder piano quartet", None, None),
        ("g2", 0, "user", "Schubert, Franz, 1797-1828. symphony vienna lieder composition", None, None),
        ("g2", 1, "assistant", "symphony vienna lieder piano quartet", None, None),
        ("g3", 0, "user", "Schubert, Franz. excavation pottery bronze stratigraphy", None, None),
        ("g3", 1, "assistant", "excavation pottery dig site artifact", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    recs = build_entity_records(df)
    pairs = {
        (r["left"], r["right"])
        for r in stage_pairs(recs, EngineConfig())[0].collect()
    }
    assert ("g1", "g2") in pairs


def test_nameless_records_keep_text_blocks(spark):
    """Records with NO name mention (name_key == '') must still receive
    text-MinHash block keys — regression: NULL name-pass key arrays made the
    fused concat NULL and silently dropped nameless records from blocking."""
    from entity_resolver_spark.operators.transcripts import build_entity_records

    body = "the same lowercase words repeated over and over again for blocking"
    rows = [
        ("n1", 0, "user", body, None, None),
        ("n2", 0, "user", body + " extra", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    records = build_entity_records(df)
    assert records.where(F.col("name_key") != "").count() == 0  # truly nameless
    blocks = all_blocks(records, EngineConfig())
    m_keys = blocks.where(F.col("block_key").startswith("m")).count()
    assert m_keys > 0, "nameless records lost their text-LSH blocks"
    pairs = stage_pairs(records, EngineConfig())[0].collect()
    assert {(r["left"], r["right"]) for r in pairs} == {("n1", "n2")}


def test_mega_block_hash_salt_route(spark):
    """Blocks beyond cap*ORDERED_SPLIT_MULT skip the rank sort and get a
    stateless hash salt; hot_block_metrics stays EXACT there too (retained
    computed from the realized bucket sizes)."""
    from entity_resolver_spark.operators.blocking import (
        ORDERED_SPLIT_MULT,
        hot_block_metrics,
    )

    cfg = EngineConfig(max_block_size=4)
    n = 4 * ORDERED_SPLIT_MULT + 72  # 200 > mega threshold (128)
    blocks = spark.createDataFrame(
        [(f"id{i:04d}", "mega") for i in range(n)], ["conv_id", "block_key"]
    )
    salted = split_hot_blocks(blocks, cfg)
    sizes = [r["count"] for r in salted.groupBy("block_key").count().collect()]
    # hash salt: ~ceil(n/cap) buckets (hash may leave a few empty); sizes
    # concentrate near cap
    assert len(sizes) >= (n // cfg.max_block_size) // 2
    assert sum(sizes) == n  # every member lands in exactly one sub-block
    assert max(sizes) <= cfg.max_block_size * 6  # loose Poisson bound
    retained = pairs_from_blocks(salted).count()
    m = hot_block_metrics(blocks, cfg).collect()[0]
    assert m["n_hot_blocks"] == 1 and m["hot_rows"] == n
    assert m["forgone_pairs"] == n * (n - 1) // 2 - retained


def test_rare_member_set_dedup_is_pair_preserving(spark, records):
    """r5 volume cut: the rare-shingle pass collapses blocks with identical
    member sets (and drops size-1 blocks). The resulting PAIR set must equal
    the naive one-block-per-shingle form's, exactly."""
    from entity_resolver_spark.functions.hashing import shingles_expr
    from entity_resolver_spark.operators.blocking import (
        _shingle_hash_rows,
        rare_shingle_blocks,
    )

    cfg = EngineConfig()
    blocks = rare_shingle_blocks(_shingle_hash_rows(records, cfg), cfg)
    got = pairs_from_blocks(blocks)

    # naive reference: one block per rare shingle hash
    sh = records.select(
        "conv_id",
        F.explode(
            F.array_distinct(shingles_expr(F.col("tokens"), cfg.rare_shingle_k))
        ).alias("_g"),
    ).select("conv_id", F.xxhash64("_g").alias("_gh"))
    rare = (
        sh.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= cfg.rare_shingle_max_df)
        .select("_gh")
    )
    naive = pairs_from_blocks(
        sh.join(rare, "_gh").select(
            "conv_id", F.col("_gh").cast("string").alias("block_key")
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))
    # and no block the pass emits has fewer than 2 members
    sizes = blocks.groupBy("block_key").agg(F.count(F.lit(1)).alias("n"))
    assert sizes.where(F.col("n") < 2).count() == 0


def test_unified_scan_minhash_schema_and_bands(spark, records):
    """minhash_blocks_from_shingle_rows: one block row per (record, band),
    band keys prefixed 'm', carrying the sorted name key."""
    from entity_resolver_spark.operators.blocking import (
        _shingle_hash_rows,
        minhash_blocks_from_shingle_rows,
    )

    cfg = EngineConfig()
    sh = _shingle_hash_rows(records, cfg)
    out = minhash_blocks_from_shingle_rows(sh)
    assert out.columns == ["conv_id", "block_key", "skey"]
    n_rec = records.select("conv_id").distinct().count()
    assert out.count() == n_rec * MINHASH_BANDS
    assert out.where(~F.col("block_key").startswith("m")).count() == 0


def _stamp_corpus(spark, whitespace_names: bool):
    """Synthetic records (conv_id, name_key, tokens): one large same-name
    family (word order varies, so it shares one t: key), a small same-name
    family, and nameless records — every family also shares text, so the
    text passes re-emit the same-name pairs the stamp is meant to skip."""
    vocab = [f"w{i}" for i in range(400)]
    rows = []

    def text(family: int, i: int) -> list[str]:
        own = 200 + family * 60 + i * 3
        return vocab[family * 40: family * 40 + 24] + vocab[own: own + 3]

    for i in range(12):
        name = "franz schubert" if i % 2 else "schubert franz"
        rows.append((f"s{i:02d}", name, text(0, i)))
    for i in range(3):
        rows.append((f"t{i:02d}", "rosalind turing", text(1, i)))
    blank = [" ", "   "] if whitespace_names else ["", ""]
    for i in range(4):
        rows.append((f"n{i:02d}", blank[i % 2], text(2, i)))
    return spark.createDataFrame(
        rows, "conv_id string, name_key string, tokens array<string>"
    )


def _pair_set(df):
    return {(r["left"], r["right"]) for r in df.collect()}


@pytest.mark.parametrize(
    "cap,whitespace_names",
    [(4, False), (4, True), (64, False)],
    ids=["hot_t_block", "whitespace_names", "no_hot_block"],
)
def test_subsumption_stamp_keeps_pair_set(spark, cap, whitespace_names):
    """Key subsumption at pair emit: on ``all_blocks`` output the ``_st``
    stamp only removes duplicate emissions — the distinct pair set with the
    stamp equals the set without it."""
    from entity_resolver_spark.operators.blocking import hot_block_metrics

    cfg = EngineConfig(max_block_size=cap)
    recs = _stamp_corpus(spark, whitespace_names)
    blocks = all_blocks(recs, cfg).localCheckpoint()
    n_hot = hot_block_metrics(blocks, cfg).collect()[0]["n_hot_blocks"]
    split = split_hot_blocks(blocks, cfg).localCheckpoint()

    stamped = split.where(F.col("_st").isNotNull())
    assert stamped.count() > 0, "the stamp must be exercised"
    if cap > 12:  # larger than every family
        assert n_hot == 0
    else:
        assert n_hot > 0
        # the large family's t: block is hot, so its rows carry no stamp
        assert stamped.where(F.col("conv_id").startswith("s")).count() == 0

    on = _pair_set(pairs_from_blocks(split))
    off = _pair_set(pairs_from_blocks(split.drop("_st")))
    assert on == off
    assert ("t00", "t01") in on and ("n00", "n01") in on


@pytest.fixture(scope="module")
def family_recall(spark):
    """True pairs kept by the full key battery and by the battery without
    each one family, on a dense corpus (12 entities x 20-30 conversations)
    whose hot blocks the cap of 16 splits."""
    from entity_resolver_spark import datagen
    from entity_resolver_spark.operators.blocking import (
        _anchor_key_arrays,
        _exact_key_array,
        _explode_keys,
        _shingle_hash_rows,
        minhash_blocks_from_shingle_rows,
        rare_shingle_blocks,
    )
    from entity_resolver_spark.operators.transcripts import build_entity_records

    data = datagen.generate(
        n_entities=12, convs_per_entity=(20, 30), turns_per_conv=(2, 6), seed=42
    )
    records = build_entity_records(
        datagen.to_spark(spark, data["transcripts"])
    ).localCheckpoint()
    truths = (
        spark.createDataFrame(data["labeled_pairs"])
        .where(F.col("match"))
        .select(
            F.least("left", "right").alias("left"),
            F.greatest("left", "right").alias("right"),
        )
        .dropDuplicates()
    )
    cfg = EngineConfig(max_block_size=16)
    names = _explode_keys(
        records, [_exact_key_array(), *_anchor_key_arrays()]
    ).localCheckpoint()
    sh = _shingle_hash_rows(records, cfg)
    families = {
        f: names.where(F.col("block_key").startswith(f"{f}:")) for f in "tia"
    }
    families["m"] = minhash_blocks_from_shingle_rows(sh)
    families["r"] = rare_shingle_blocks(sh, cfg)

    def kept(names_in: str) -> int:
        blocks = families[names_in[0]]
        for f in names_in[1:]:
            blocks = blocks.unionByName(families[f])
        split = split_hot_blocks(blocks.localCheckpoint(), cfg).localCheckpoint()
        pairs = pairs_from_blocks(split.drop("_st"))
        return truths.join(pairs, ["left", "right"], "left_semi").count()

    every = "tiamr"
    return kept(every), {f: kept(every.replace(f, "")) for f in every}


@pytest.mark.parametrize("family", list("tiamr"))
def test_every_key_family_carries_recall(family_recall, family):
    """Under hot-block splits no family is subsumed by the others: leaving
    any one out loses true pairs. (A family's pairs are redundant only in
    blocks the split leaves intact.)"""
    every, without = family_recall
    assert without[family] < every, (family, without[family], every)
