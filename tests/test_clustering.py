"""Connected components vs networkx oracle; cluster assembly semantics."""

from __future__ import annotations

import networkx as nx
import pytest
from pyspark.sql import functions as F

from entity_resolver_spark.operators.clustering import (
    cluster_records,
    connected_components,
)


def _cc_oracle(edges: list[tuple[str, str]], isolated: list[str]) -> dict[str, str]:
    g = nx.Graph()
    g.add_edges_from(edges)
    g.add_nodes_from(isolated)
    out = {}
    for comp in nx.connected_components(g):
        label = min(comp)
        for n in comp:
            out[n] = label
    return out


def _ids(spark, edges: list[tuple[str, str]], isolated: list[str]):
    """The distinct id set: every edge endpoint plus the isolated ids."""
    ids = sorted({n for e in edges for n in e} | set(isolated))
    return spark.createDataFrame([(i,) for i in ids], "id string")


@pytest.mark.parametrize(
    "edges",
    [
        [("a", "b"), ("b", "c"), ("d", "e")],
        [("a", "b")],
        [(f"n{i}", f"n{i + 1}") for i in range(30)],  # long chain (stress depth)
        [("hub", f"leaf{i}") for i in range(25)],  # star
        [("a", "b"), ("c", "d"), ("b", "c"), ("x", "y"), ("y", "z"), ("z", "x")],
    ],
)
def test_connected_components_matches_networkx(spark, edges):
    """Every id is labeled: ids no edge touches (one sorting before every
    node, one after) are singletons labeled by themselves."""
    isolated = ["0lone", "zz_lone"]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(_ids(spark, edges, isolated), df).collect()
    }
    assert got == _cc_oracle(edges, isolated)


def test_connected_components_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert connected_components(_ids(spark, [], []), df).count() == 0
    got = connected_components(_ids(spark, [], ["a", "b"]), df).collect()
    assert {r["id"]: r["component"] for r in got} == {"a": "a", "b": "b"}


def test_connected_components_raises_when_not_converged(spark):
    """A path needs about log2(n) star rounds; one round must fail loudly,
    not return the half-merged forest as components, and must still drop
    the loop's global temp views."""
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(200)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(_ids(spark, edges, []), df, max_iter=1)
    views = [t.name for t in spark.catalog.listTables("global_temp")]
    assert not [v for v in views if v.startswith("er_cc_")]


def test_cluster_records_appends_singletons(spark):
    records = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], ["conv_id"])
    scored = spark.createDataFrame(
        [("a", "b", 0.9, True), ("c", "d", 0.5, False)],
        ["left", "right", "proba", "is_match"],
    )
    got = {
        r["conv_id"]: r["cluster_id"] for r in cluster_records(records, scored).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "c", "d": "d"}


def test_edge_confidence_filter(spark):
    """Edges below min_edge_confidence are dropped even when is_match is
    true (reference strict clustering, src/classifying.py:2199-2209)."""
    records = spark.createDataFrame([("a",), ("b",)], ["conv_id"])
    scored = spark.createDataFrame(
        [("a", "b", 0.60, True)], ["left", "right", "proba", "is_match"]
    )
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in cluster_records(records, scored, min_edge_confidence=0.65).collect()
    }
    assert got == {"a": "a", "b": "b"}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """reliable_every=K must produce identical components while cutting
    lineage through the fault-tolerant checkpoint dir (cluster-durable path);
    without a checkpoint dir it must refuse loudly."""
    edges = [(f"n{i}", f"n{i+1}") for i in range(0, 40, 2)] + [
        ("n0", "n2"), ("n10", "n12"), ("n30", "n32")
    ]
    isolated = ["lone"]
    ids = _ids(spark, edges, isolated)
    df = spark.createDataFrame(edges, ["src", "dst"])
    prev = spark.sparkContext.getCheckpointDir()
    if prev is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            connected_components(ids, df, reliable_every=2)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    got = {
        r["id"]: r["component"]
        for r in connected_components(ids, df, reliable_every=2).collect()
    }
    g = nx.Graph(edges)
    g.add_nodes_from(isolated)
    for comp in nx.connected_components(g):
        labels = {got[n] for n in comp}
        assert len(labels) == 1
        assert min(comp) in labels


def test_connected_components_celebrity_star(spark):
    """A celebrity node holding its whole component as direct neighbors is
    the star algorithms' worst case: the per-u neighborhood minimum must be
    computed via the two-level (map-side partial agg -> tiny join-back) form,
    never by buffering the full neighborhood in one WindowExec task. This
    exercises a 20k-degree hub — small enough for CI, shaped exactly like the
    hazard — plus a second component to catch label bleed."""
    n = 20_000
    edges = [("hub", f"leaf{i:05d}") for i in range(n)] + [("x", "y")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(_ids(spark, edges, []), df).collect()
    }
    assert len(got) == n + 3
    star_labels = {got["hub"]} | {got[f"leaf{i:05d}"] for i in range(0, n, 997)}
    assert star_labels == {"hub"}
    assert got["x"] == got["y"] == "x"
