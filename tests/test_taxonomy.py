"""Taxonomy dissimilarity — mirrors the reference's expected values
(test_taxonomy_feature.py: same 0.0 / sibling 0.3 / parent-child 0.4 /
different 0.8 / unknown 0.9 / unmapped 0.5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolver_spark.operators.features import pair_inputs
from entity_resolver_spark.operators.taxonomy import (
    DEFAULT_TAXONOMY,
    prune_parents,
    taxonomy_dissimilarity_expr,
)
from entity_resolver_spark.operators.transcripts import build_entity_records


def _score(spark, l, r):
    df = spark.createDataFrame(
        [(l, r)], "l array<string>, r array<string>"
    )
    return df.select(
        taxonomy_dissimilarity_expr(F.col("l"), F.col("r")).alias("s")
    ).collect()[0]["s"]


def test_reference_expected_values(spark):
    # same category
    assert _score(spark, ["search_catalog"], ["search_catalog"]) == pytest.approx(0.0)
    # siblings under 'retrieval'
    assert _score(spark, ["search_catalog"], ["fetch_record"]) == pytest.approx(0.3)
    # parent-child
    assert _score(spark, ["search_catalog"], ["retrieval"]) == pytest.approx(0.4)
    # different parents
    assert _score(spark, ["search_catalog"], ["run_query"]) == pytest.approx(0.8)
    # unknown category
    assert _score(spark, ["search_catalog"], ["mystery_tool"]) == pytest.approx(0.9)
    # IDENTICAL unmapped categories are same (0.0), not unknown — the
    # reference checks equality before taxonomy membership
    # (src/taxonomy_feature.py:228)
    assert _score(spark, ["mystery_tool"], ["mystery_tool"]) == pytest.approx(0.0)
    # unmapped entity -> neutral
    assert _score(spark, [], ["search_catalog"]) == pytest.approx(0.5)
    assert _score(spark, None, ["search_catalog"]) == pytest.approx(0.5)


def test_min_over_cross_product(spark):
    # best pairing wins: (search_catalog, fetch_record) siblings -> 0.3
    s = _score(spark, ["run_query", "search_catalog"], ["fetch_record", "cite_source"])
    assert s == pytest.approx(0.3)


def test_parent_pruned_when_child_present(spark):
    df = spark.createDataFrame(
        [(["search_catalog", "retrieval", "compute"],)], "c array<string>"
    )
    out = df.select(prune_parents(F.col("c"), DEFAULT_TAXONOMY).alias("p")).collect()[0]["p"]
    assert sorted(out) == ["compute", "search_catalog"]


def test_pair_feature_join(spark):
    """The pipeline's path: build_entity_records collects each
    conversation's tools as its categories, pair_inputs scores them."""
    transcripts = spark.createDataFrame(
        [
            ("c1", 0, "tool", "x", "search_catalog", None),
            ("c2", 0, "tool", "x", "fetch_record", None),
            ("c3", 0, "user", "x", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    pairs = spark.createDataFrame([("c1", "c2"), ("c1", "c3")], ["left", "right"])
    out = {
        (r["left"], r["right"]): r["taxonomy_dissimilarity"]
        for r in pair_inputs(pairs, build_entity_records(transcripts)).collect()
    }
    assert out[("c1", "c2")] == pytest.approx(0.3)
    assert out[("c1", "c3")] == pytest.approx(0.5)  # c3 has no tools
