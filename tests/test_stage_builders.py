"""The stage builders of plans/pipeline.py are the one block -> score ->
cluster chain: run in memory (each output localCheckpointed, as bench.py
does) they give the same pairs, skew guard and clusters as the committed
pipeline run."""

from __future__ import annotations

from entity_resolver_spark import datagen
from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.operators.features import text_vectors
from entity_resolver_spark.operators.scoring import Model
from entity_resolver_spark.operators.transcripts import build_entity_records
from entity_resolver_spark.plans.pipeline import (
    ResolutionPipeline,
    stage_clusters,
    stage_pair_inputs,
    stage_pairs,
    stage_scored,
)


def _pair_set(df):
    return {(r["left"], r["right"]) for r in df.select("left", "right").collect()}


def test_builders_in_memory_match_pipeline_run(spark, tmp_path):
    transcripts = datagen.to_spark(
        spark, datagen.generate(n_entities=25, seed=7)["transcripts"]
    )
    # small blocks so the hot-block split takes part in both chains
    cfg, model = EngineConfig(max_block_size=6), Model.default()

    records = build_entity_records(transcripts).localCheckpoint()
    vectors = text_vectors(records).localCheckpoint()
    pairs, guard = stage_pairs(records, cfg)
    pairs = pairs.localCheckpoint()
    inputs = stage_pair_inputs(pairs, records, vectors, cfg).localCheckpoint()
    scored = stage_scored(inputs, model).localCheckpoint()
    clusters = stage_clusters(records, vectors, pairs, scored, cfg, model)

    pipe = ResolutionPipeline(spark, str(tmp_path / "wh"), cfg=cfg, model=model)
    result = pipe.run(transcripts, resume=False)

    assert guard["n_hot_blocks"] > 0
    assert guard == next(m for m in result.metrics if m["stage"] == "pairs_skew_guard")
    assert _pair_set(pairs) == _pair_set(pipe.wh.read("pairs"))
    assert sorted(map(tuple, clusters.collect())) == sorted(
        map(tuple, result.clusters.collect())
    )
