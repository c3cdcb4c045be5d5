"""Pairwise feature battery semantics."""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from entity_resolver_spark.config import FEATURE_COLS, EngineConfig
from entity_resolver_spark.functions.years import year_match_expr
from entity_resolver_spark.operators.features import (
    features_from_inputs,
    pair_inputs,
)
from entity_resolver_spark.plans.pipeline import stage_pairs

# broadcast_* settings that force each join path of pair_inputs: a row
# floor no corpus here reaches always broadcasts, a hard ceiling of -1 never
FORCE_BROADCAST = {"broadcast_max_records": 1 << 40}
FORCE_SHUFFLE = {"broadcast_max_records": -1, "broadcast_hard_max_records": -1}


def test_feature_columns_and_ranges(spark, records):
    cfg = EngineConfig()
    pairs = stage_pairs(records, cfg)[0]
    feats = features_from_inputs(pair_inputs(pairs, records, cfg))
    assert set(feats.columns) == {"left", "right", *FEATURE_COLS}
    mins_maxs = feats.agg(
        *[F.min(c).alias(f"min_{c}") for c in FEATURE_COLS],
        *[F.max(c).alias(f"max_{c}") for c in FEATURE_COLS],
    ).collect()[0]
    for c in FEATURE_COLS:
        assert mins_maxs[f"min_{c}"] >= 0.0, c
        assert mins_maxs[f"max_{c}"] <= 1.0, c


def test_identical_records_score_one(spark):
    """A pair of identical conversations must hit 1.0 on every text/name
    feature (the reference's identical-hash short-circuit,
    src/feature_engineering.py:905-915)."""
    from entity_resolver_spark.operators.transcripts import build_entity_records

    rows = [
        ("p1", 0, "user", "Curie, Marie, 1867-1934. radiation isotope laboratory", None, None),
        ("p2", 0, "user", "Curie, Marie, 1867-1934. radiation isotope laboratory", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    recs = build_entity_records(df)
    pairs = spark.createDataFrame([("p1", "p2")], ["left", "right"])
    row = features_from_inputs(pair_inputs(pairs, recs)).collect()[0]
    assert row["name_jw"] == pytest.approx(1.0)
    assert row["name_lev_sim"] == pytest.approx(1.0)
    assert row["text_cosine"] == pytest.approx(1.0)
    assert row["name_text_squared"] == pytest.approx(1.0)
    assert row["year_match"] == pytest.approx(1.0)


def test_broadcast_and_shuffle_join_paths_identical(spark, records):
    """The auto-selected broadcast fast path and the 100-TB shuffled-join
    path must produce identical feature rows (same pairs, same values)."""
    cfg = EngineConfig()
    pairs = stage_pairs(records, cfg)[0]
    a = features_from_inputs(
        pair_inputs(pairs, records, dataclasses.replace(cfg, **FORCE_BROADCAST))
    )
    b = features_from_inputs(
        pair_inputs(pairs, records, dataclasses.replace(cfg, **FORCE_SHUFFLE))
    )
    cols = ["left", "right", *FEATURE_COLS]
    ra = sorted(a.select(*cols).collect(), key=lambda r: (r["left"], r["right"]))
    rb = sorted(b.select(*cols).collect(), key=lambda r: (r["left"], r["right"]))
    assert len(ra) == len(rb) and len(ra) > 0
    for x, y in zip(ra, rb):
        assert x["left"] == y["left"] and x["right"] == y["right"]
        for c in FEATURE_COLS:
            assert x[c] == pytest.approx(y[c], abs=1e-12), c


def test_year_match_semantics(spark):
    cases = [
        # (bl, dl, br, dr, expected)
        (1797, 1828, 1797, 1828, 1.0),
        (1797, 1828, 1798, 1827, 1.0),  # within tolerance 2
        (1797, 1828, 1805, 1828, 0.0),  # birth off
        (1797, None, 1797, None, 1.0),  # birth-only agreement
        (None, 1828, None, 1828, 1.0),  # death-only agreement
        (None, None, None, None, 0.0),  # no info at all -> 0.0
        (1797, None, None, 1828, 0.5),  # asymmetric -> neutral
        (1797, 1828, None, None, 0.5),  # one side empty -> neutral
    ]
    df = spark.createDataFrame(cases, "bl int, dl int, br int, dr int, exp double")
    rows = df.select(
        "exp",
        year_match_expr(F.col("bl"), F.col("dl"), F.col("br"), F.col("dr"), 2).alias("got"),
    ).collect()
    for r in rows:
        assert r["got"] == pytest.approx(r["exp"])


def test_text_vectors_keyed_per_name_variant(spark):
    """Same case-folded text, different EXTRACTED names (all-caps keeps the
    name regex matching through the whole turn) must get their own context
    vectors — text_hash alone collides, and an arbitrary pick corrupted one
    record's vector (r3 ADVICE). The key is (text_hash, name_hash)."""
    from datetime import datetime

    from entity_resolver_spark.operators.features import text_vectors
    from entity_resolver_spark.operators.transcripts import build_entity_records

    ts = datetime(2024, 1, 1)
    rows = [
        ("a", 0, "user", "John Smith works on trains", None, ts),
        ("b", 0, "user", "JOHN SMITH WORKS ON TRAINS", None, ts),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    records = build_entity_records(t)
    r = {x["conv_id"]: x for x in records.collect()}
    assert r["a"]["text_hash"] == r["b"]["text_hash"]
    assert r["a"]["name_hash"] != r["b"]["name_hash"]
    assert r["a"]["context_tokens"] != r["b"]["context_tokens"]
    vecs = text_vectors(records)
    joined = {
        x["conv_id"]: x["vector"]
        for x in records.select("conv_id", "text_hash", "name_hash")
        .join(vecs, ["text_hash", "name_hash"], "left")
        .collect()
    }
    # 'a' keeps its own context vector; 'b' (whose extracted name swallowed
    # the whole turn -> empty context) gets NO vector rather than silently
    # inheriting a's (the old text_hash-only dedupe picked one arbitrarily).
    assert joined["a"] is not None
    assert joined["b"] is None


def test_hashed_tf_idf_survives_null_key_component(spark):
    """IDF's document count must include rows whose composite key contains a
    NULL (regression: countDistinct over bare (text_hash, name_hash) columns
    skipped every nameless record, collapsing n_docs to 0 and INVERTING the
    IDF weights — the giant-cluster defect the er_clusters oracle caught)."""
    from entity_resolver_spark.functions.hashing import hashed_tf_vectors

    rows = [
        (1, None, ["common", "common", "rare1"]),
        (2, None, ["common", "rare2", "x"]),
        (3, None, ["common", "rare3", "y"]),
    ]
    df = spark.createDataFrame(rows, "th long, nh long, toks array<string>")
    vec_composite = {
        r["th"]: r["vector"]
        for r in hashed_tf_vectors(df, ["th", "nh"], "toks", 4096).collect()
    }
    vec_single = {
        r["th"]: r["vector"]
        for r in hashed_tf_vectors(df, "th", "toks", 4096).collect()
    }
    for k in vec_single:
        assert set(vec_composite[k]) == set(vec_single[k])
        for b, w in vec_single[k].items():
            assert vec_composite[k][b] == pytest.approx(w)


def test_kmv_jaccard_estimate_tracks_exact(spark):
    """KMV bottom-k Jaccard: exact when |A ∪ B| <= k; within ~3 std
    (sqrt(J(1-J)/k)) otherwise; 1.0 for identical sets; ~0 for disjoint."""
    from entity_resolver_spark.functions.hashing import (
        kmv_jaccard_expr,
        kmv_sketch_expr,
    )

    k = 64

    def est_and_exact(toks_a, toks_b):
        df = spark.createDataFrame([(toks_a, toks_b)], "a array<string>, b array<string>")
        out = df.select(
            kmv_jaccard_expr(
                kmv_sketch_expr(F.col("a"), 3, k),
                kmv_sketch_expr(F.col("b"), 3, k),
                k,
            ).alias("est")
        ).collect()[0]["est"]
        sa = {" ".join(toks_a[i : i + 3]) for i in range(len(toks_a) - 2)}
        sb = {" ".join(toks_b[i : i + 3]) for i in range(len(toks_b) - 2)}
        return out, len(sa & sb) / len(sa | sb)

    base = [f"w{i}" for i in range(30)]
    est, exact = est_and_exact(base, base)
    assert est == pytest.approx(1.0) and exact == 1.0
    est, exact = est_and_exact(base, [f"z{i}" for i in range(30)])
    assert est == pytest.approx(0.0) and exact == 0.0
    # small sets: union fits in k -> exact
    half = base[:18] + [f"q{i}" for i in range(12)]
    est, exact = est_and_exact(base, half)
    assert est == pytest.approx(exact)
    # large sets: estimator within 3 * sqrt(J(1-J)/k)
    big_a = [f"a{i}" for i in range(200)]
    big_b = big_a[:120] + [f"b{i}" for i in range(80)]
    est, exact = est_and_exact(big_a, big_b)
    assert abs(est - exact) <= 3 * (exact * (1 - exact) / k) ** 0.5 + 0.02


def test_kmv_pudf_matches_native_expr(spark):
    """The Arrow KMV kernel (the hot path) must be numerically IDENTICAL to
    the native expression twin on variable-length sketches, empties, and
    NULLs — the native form is the readable spec, the kernel is what runs
    (array_union/array_intersect are CodegenFallback, ~450us/pair)."""
    import numpy as np

    from entity_resolver_spark.functions.hashing import kmv_jaccard_expr
    from entity_resolver_spark.functions.similarity import make_kmv_jaccard_pudf

    rng = np.random.RandomState(7)
    rows = []
    for _ in range(500):
        la, lb = int(rng.randint(0, 65)), int(rng.randint(0, 65))
        pool = rng.choice(100000, size=200, replace=False)
        a = sorted(pool[:la].tolist())
        shared = pool[: rng.randint(0, la + 1)] if la else pool[:0]
        b = sorted(set(np.concatenate([shared, pool[100:100 + lb]]).tolist()))[:64]
        rows.append((a, b))
    rows.append((None, [1, 2, 3]))
    rows.append(([], []))
    df = spark.createDataFrame(rows, "a array<long>, b array<long>")
    udf = make_kmv_jaccard_pudf(64)
    d = df.select(
        (
            F.coalesce(udf(F.col("a"), F.col("b")), F.lit(-1.0))
            - F.coalesce(kmv_jaccard_expr(F.col("a"), F.col("b"), 64), F.lit(-1.0))
        ).alias("d")
    )
    assert d.agg(F.max(F.abs("d"))).collect()[0][0] == pytest.approx(0.0)


def test_auto_broadcast_is_byte_budgeted(spark, records):
    """The broadcast-vs-shuffle auto-select (measured crossover, config.py
    BROADCAST_* block): unconditional broadcast below the row floor; above
    it, broadcast while the byte ESTIMATE fits the budget, shuffle beyond
    it; hard row ceiling wins regardless of bytes."""
    from entity_resolver_spark.operators.features import _auto_broadcast

    cfg = EngineConfig()
    n = records.count()

    # below the floor: no byte estimate consulted
    assert _auto_broadcast(records, cfg) is True

    # above the floor with a generous byte budget: still broadcast
    tight = dataclasses.replace(cfg, broadcast_max_records=max(1, n - 1))
    assert _auto_broadcast(records, tight) is True

    # above the floor with a 1-byte budget: shuffle
    tiny = dataclasses.replace(
        cfg, broadcast_max_records=max(1, n - 1), broadcast_max_bytes=1
    )
    assert _auto_broadcast(records, tiny) is False

    # hard ceiling beats any budget
    capped = dataclasses.replace(
        cfg,
        broadcast_max_records=1,
        broadcast_hard_max_records=max(1, n - 1),
    )
    assert _auto_broadcast(records, capped) is False

    # and the broadcast hint reaches the physical plan. (No negative
    # assertion on the forced-shuffle form: at this corpus size AQE
    # correctly converts the tiny sort-merge side to a runtime broadcast
    # on its own — the un-hinted form is exercised for output equivalence
    # by the join-path tests, and its physical shape only diverges at
    # side-table sizes no unit test should materialize.)
    pairs = stage_pairs(records, cfg)[0]
    bcast_plan = pair_inputs(
        pairs, records, dataclasses.replace(cfg, **FORCE_BROADCAST)
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in bcast_plan
