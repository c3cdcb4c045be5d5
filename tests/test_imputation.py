"""Attribute imputation from similar records (subject-enhancement analogue)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.operators.blocking import all_blocks, split_hot_blocks
from entity_resolver_spark.operators.features import text_vectors
from entity_resolver_spark.operators.imputation import (
    audit_attribute,
    impute_attribute,
)
from entity_resolver_spark.operators.transcripts import build_entity_records


def test_impute_from_similar_records(spark):
    """Records of the same entity (near-identical text) donate their
    attribute to the member that lacks one; top-ranked value is the
    similarity-weighted vote winner."""
    rows = []
    # entity A: three near-identical convs, two labeled "search_catalog"
    for cid, drop in (("a1", ""), ("a2", "vienna"), ("a3", "lieder")):
        text = " ".join(
            w for w in "symphony vienna lieder composition piano quartet sonata opus".split()
            if w != drop
        )
        rows.append((cid, 0, "user", f"Schubert, Franz. {text}", None, None))
        rows.append((cid, 1, "assistant", text, None, None))
    # entity B: different topic, labeled "fetch_record"
    for cid in ("b1", "b2"):
        rows.append((cid, 0, "user", f"Curie, Marie. radiation isotope decay laboratory element", None, None))
        rows.append((cid, 1, "assistant", "radiation isotope decay laboratory element nobel", None, None))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    cfg = EngineConfig()
    records = build_entity_records(df).cache()
    vectors = text_vectors(records)
    blocks = split_hot_blocks(all_blocks(records, cfg).localCheckpoint(), cfg)
    attrs = spark.createDataFrame(
        [("a1", "search_catalog"), ("a2", "search_catalog"), ("b1", "fetch_record")],
        ["conv_id", "attr"],
    )
    out = impute_attribute(records, vectors, attrs, blocks).collect()
    by_conv = {}
    for r in out:
        by_conv.setdefault(r["conv_id"], []).append(r)
    # a3 gets search_catalog (from a1+a2); b2 gets fetch_record (from b1)
    a3 = sorted(by_conv["a3"], key=lambda r: r["rank"])
    assert a3[0]["attr"] == "search_catalog"
    assert a3[0]["n_donors"] == 2
    b2 = sorted(by_conv["b2"], key=lambda r: r["rank"])
    assert b2[0]["attr"] == "fetch_record"
    # records that already have the attribute are not re-imputed
    assert "a1" not in by_conv and "b1" not in by_conv


def test_audit_flags_planted_bad_label(spark):
    """Subject-quality audit (reference src/subject_quality.py:209-296):
    a record whose existing label conflicts with the vote of its
    text-similar neighborhood is flagged with the suggested replacement;
    consistent records are not."""
    rows = []
    # five near-identical convs of one entity; a5 gets a WRONG label below
    for cid, drop in (
        ("a1", ""), ("a2", "vienna"), ("a3", "lieder"), ("a4", "piano"), ("a5", "opus")
    ):
        text = " ".join(
            w for w in "symphony vienna lieder composition piano quartet sonata opus".split()
            if w != drop
        )
        rows.append((cid, 0, "user", f"Schubert, Franz. {text}", None, None))
        rows.append((cid, 1, "assistant", text, None, None))
    # a distant entity with its own consistent label (must not be flagged)
    for cid in ("b1", "b2"):
        rows.append((cid, 0, "user", "Curie, Marie. radiation isotope decay laboratory", None, None))
        rows.append((cid, 1, "assistant", "radiation isotope decay laboratory nobel", None, None))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    cfg = EngineConfig()
    records = build_entity_records(df).cache()
    vectors = text_vectors(records)
    blocks = split_hot_blocks(all_blocks(records, cfg).localCheckpoint(), cfg)
    attrs = spark.createDataFrame(
        [("a1", "search_catalog"), ("a2", "search_catalog"),
         ("a3", "search_catalog"), ("a4", "search_catalog"),
         ("a5", "exec_code"),  # planted bad label
         ("b1", "fetch_record"), ("b2", "fetch_record")],
        ["conv_id", "attr"],
    )
    flagged = {r["conv_id"]: r for r in audit_attribute(records, vectors, attrs, blocks).collect()}
    assert set(flagged) == {"a5"}
    assert flagged["a5"]["current"] == "exec_code"
    assert flagged["a5"]["suggested"] == "search_catalog"
    assert flagged["a5"]["n_donors"] == 4
    assert flagged["a5"]["current_score"] == pytest.approx(0.0)


def test_impute_donor_top_k_nearest_wins(spark):
    """donor_top_k=1 restricts the vote to the single most-similar donor
    (reference KNN shape): two mildly-similar donors agreeing on one value
    must NOT out-vote the one near-identical donor when the vote is KNN-1,
    but DO win the unrestricted sum-vote."""
    base = "symphony vienna lieder composition piano quartet sonata opus"
    rows = []
    # m1: unlabeled, near-identical to donor d1
    rows.append(("m1", 0, "user", f"Schubert, Franz. {base}", None, None))
    rows.append(("d1", 0, "user", f"Schubert, Franz. {base} allegro", None, None))
    # two donors sharing most tokens with m1 but less than d1 does
    for cid in ("d2", "d3"):
        rows.append(
            (cid, 0, "user",
             f"Schubert, Franz. {base} minuet rondo coda finale overture",
             None, None)
        )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    cfg = EngineConfig()
    records = build_entity_records(df).cache()
    vectors = text_vectors(records)
    blocks = split_hot_blocks(all_blocks(records, cfg).localCheckpoint(), cfg)
    attrs = spark.createDataFrame(
        [("d1", "search_catalog"), ("d2", "web_search"), ("d3", "web_search")],
        ["conv_id", "attr"],
    )
    top1 = {
        r["conv_id"]: r["attr"]
        for r in impute_attribute(
            records, vectors, attrs, blocks, donor_top_k=1
        ).where(F.col("rank") == 1).collect()
    }
    assert top1["m1"] == "search_catalog"
    full = {
        r["conv_id"]: r["attr"]
        for r in impute_attribute(records, vectors, attrs, blocks)
        .where(F.col("rank") == 1)
        .collect()
    }
    assert full["m1"] == "web_search"
