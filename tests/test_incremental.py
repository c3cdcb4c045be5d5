"""Incremental pipeline: new conversations fold in without re-scoring old pairs,
and the result matches a from-scratch run on the union."""

from __future__ import annotations

import dataclasses
import shutil
from collections import Counter

import pytest

from entity_resolver_spark import datagen
from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.operators.scoring import Model
from entity_resolver_spark.plans.pipeline import ResolutionPipeline


def _split_corpus(spark):
    """25-entity corpus split 70/30 by conv_id, no conversation in both."""
    pdf = datagen.generate(n_entities=25, seed=7)["transcripts"]
    convs = sorted(pdf["conv_id"].unique())
    old_set = set(convs[: int(len(convs) * 0.7)])
    first = datagen.to_spark(spark, pdf[pdf["conv_id"].isin(old_set)].reset_index(drop=True))
    second = datagen.to_spark(spark, pdf[~pdf["conv_id"].isin(old_set)].reset_index(drop=True))
    return pdf, old_set, first, second


# With enhancement on, the edge threshold sits below the enhanced edges'
# 0.60 confidence, and a strict decision threshold leaves records the
# classifier does not match for singleton rescue to pick up: on this corpus
# a batch run then gives 71 clusters without enhancement and 31 with it, so
# both paths must reach the same enhanced edges to agree.
ENHANCEMENT = {
    "none": (EngineConfig(), Model.default()),
    "moderate": (
        EngineConfig(enhancement_aggressiveness="moderate", min_edge_confidence=0.55),
        dataclasses.replace(Model.default(), threshold=0.98, edge_threshold=0.55),
    ),
}


@pytest.mark.parametrize("enhancement", sorted(ENHANCEMENT))
def test_incremental_matches_full_run(spark, tmp_path, enhancement):
    pdf, old_set, first, second = _split_corpus(spark)
    full = datagen.to_spark(spark, pdf)
    cfg, model = ENHANCEMENT[enhancement]

    # incremental: run on first batch, fold in second
    pipe = ResolutionPipeline(spark, str(tmp_path / "incr"), cfg=cfg, model=model)
    pipe.run(first, resume=False)
    n_old_pairs = pipe.wh.read("pairs").count()
    result = pipe.run_incremental(second)
    incr_clusters = sorted(map(tuple, result.clusters.collect()))

    # from-scratch on the union
    pipe2 = ResolutionPipeline(spark, str(tmp_path / "full"), cfg=cfg, model=model)
    full_clusters = sorted(map(tuple, pipe2.run(full, resume=False).clusters.collect()))

    assert incr_clusters == full_clusters
    # the fold commits its pair tables in the batch run's column order
    for t in ("pairs", "scored"):
        assert pipe.wh.read(t).columns == pipe2.wh.read(t).columns, t
    # incremental really did skip the old pairs: fresh pair set is disjoint
    fresh = pipe.wh.read("pairs_new")
    old = spark.read.parquet(str(tmp_path / "incr" / "pairs")).drop("_pid")
    assert fresh.join(
        old.select("left", "right"), ["left", "right"], "left_semi"
    ).count() == fresh.count()  # fresh pairs are all in the final pair table
    assert pipe.wh.read("pairs").count() >= n_old_pairs + fresh.count() - 1
    # most fresh pairs touch a new conversation. NOT all: hot-block splitting
    # is rank-ordered, so inserting new members shifts sub-block boundaries
    # and can co-bucket old-old pairs that the previous run's split forwent —
    # scoring them now is CORRECT (it converges the incremental pair set
    # toward the full run's; the incr==full cluster assert above relies on
    # exactly that).
    new_ids = {r["conv_id"] for r in spark.createDataFrame(
        pdf[~pdf["conv_id"].isin(old_set)][["conv_id"]].drop_duplicates()).collect()}
    fresh_rows = fresh.collect()
    touching = sum(
        1 for r in fresh_rows if r["left"] in new_ids or r["right"] in new_ids
    )
    assert touching >= 0.9 * len(fresh_rows)


def test_fold_pairs_cover_batch_pairs_with_hot_blocks(spark, tmp_path):
    """The fold's pair path on a corpus with hot blocks (no re-delivery):
    every pair the batch run on the union emits is in the folded pair
    table, and every extra folded pair was already a pre-fold pair — one
    the batch run's hot-split boundaries forgo (see the test above)."""
    pdf, _, first, second = _split_corpus(spark)
    cfg = EngineConfig(max_block_size=6)
    model = Model.default()

    def pair_set(df):
        return {(r["left"], r["right"]) for r in df.select("left", "right").collect()}

    pipe = ResolutionPipeline(spark, str(tmp_path / "incr"), cfg=cfg, model=model)
    pipe.run(first, resume=False)
    pre_fold = pair_set(pipe.wh.read("pairs"))
    pipe.run_incremental(second)
    folded = pair_set(pipe.wh.read("pairs"))

    batch_pipe = ResolutionPipeline(spark, str(tmp_path / "full"), cfg=cfg, model=model)
    batch_pipe.run(datagen.to_spark(spark, pdf), resume=False)
    guard = next(m for m in batch_pipe.metrics if m["stage"] == "pairs_skew_guard")
    assert guard["n_hot_blocks"] > 0
    batch = pair_set(batch_pipe.wh.read("pairs"))

    assert batch <= folded
    assert folded - batch <= pre_fold


@pytest.fixture(scope="module")
def folded(spark, tmp_path_factory):
    """One pipeline object that ran a batch and then folded the rest in."""
    _, _, first, second = _split_corpus(spark)
    pipe = ResolutionPipeline(spark, str(tmp_path_factory.mktemp("folded")))
    pipe.run(first, resume=False)
    result = pipe.run_incremental(second)
    return pipe, first, sorted(map(tuple, result.clusters.collect()))


def test_fold_appends_each_metrics_row_once(folded):
    """The `_metrics` table holds exactly the rows the pipeline object
    logged, batch and fold together — no row is appended twice."""
    pipe, _, _ = folded
    table = Counter(r["stage"] for r in pipe.wh.read("_metrics").collect())
    assert table == Counter(m["stage"] for m in pipe.metrics)
    assert table["pairs_skew_guard"] == 1 and table["vectors"] == 2


def test_resume_after_fold_scores_the_folded_pairs(spark, folded, tmp_path):
    """A resumed run after a fold rebuilds its dropped stages from the
    folded pair set, not from a pair_inputs table the fold left stale."""
    pipe, first, fold_clusters = folded
    wh = str(tmp_path / "resume")
    shutil.copytree(pipe.wh.root, wh)
    resumed = ResolutionPipeline(spark, wh)
    state = resumed.wh.load_state()
    state["completed"] = [
        s for s in state["completed"] if s not in ("scored", "clusters")
    ]
    resumed.wh.save_state(state)
    resumed.wh.drop("scored")
    resumed.wh.drop("clusters")

    result = resumed.run(first, resume=True)
    assert resumed.wh.read("scored").count() == resumed.wh.read("pairs").count()
    assert sorted(map(tuple, result.clusters.collect())) == fold_clusters
