"""End-to-end resolution pipeline: normalize -> block -> score -> cluster.

The reference's orchestrator runs an ordered stage list with a state tracker
and per-stage checkpoints (reference src/orchestrating.py:70-84,
src/checkpoint_manager.py:100-158). Here the block -> score -> cluster chain
is four module-level stage builders (``stage_pairs``, ``stage_pair_inputs``,
``stage_scored``, ``stage_clusters``), each taking its upstream frames and
returning the stage frame. Every caller runs that one chain and only chooses
how a stage output is materialized: ``ResolutionPipeline.run`` commits each
one to a Warehouse table (a resumed ``run()`` skips completed stages —
stage-level resume), ``run_incremental`` commits the fold's tables the same
way, and ``bench.py`` localCheckpoints them in memory. Pair-level resume —
the analogue of the reference's processed_ids checkpoint
(src/classifying.py:717) — lives in ``run_incremental``, which
left_anti-joins fresh candidate pairs against the committed pair set and
scores only the difference.

The builders call operators through this module's globals, so a caller
that patches ``pipeline.<operator>`` sees every call of every path.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.operators.blocking import (
    all_blocks,
    hot_block_metrics,
    pairs_from_blocks,
    split_hot_blocks,
)
from entity_resolver_spark.operators.clustering import cluster_records
from entity_resolver_spark.operators.enhancement import enhance_matches
from entity_resolver_spark.operators.features import (
    features_from_inputs,
    pair_inputs,
    text_vectors,
)
from entity_resolver_spark.operators.scoring import Model, score_pairs
from entity_resolver_spark.operators.transcripts import (
    build_entity_records,
    string_stats,
)
from entity_resolver_spark.sources.catalog import Warehouse

@dataclass
class PipelineResult:
    clusters: DataFrame
    metrics: list[dict]


# -- stage builders ---------------------------------------------------------


def stage_pairs(records: DataFrame, cfg: EngineConfig) -> tuple[DataFrame, dict]:
    """Candidate pairs of ``records``, and the ``pairs_skew_guard`` metrics
    row (hot blocks and the pairs their split forgoes).

    The key battery is materialized once: the skew-guard metric and the
    split both consume it, and the split output is materialized before
    the pair self-join reads it twice. These localCheckpoints — like the
    ones inside the blocking passes — store blocks on executors only, so an
    executor loss mid-stage fails the stage. The pipeline commits the stage
    output as a table, and that commit is the durable checkpoint: a retry
    re-runs this one stage from the committed ``records``. The CC loop is
    the exception (unbounded rounds inside one stage); that is what
    cc_reliable_every is for."""
    blocks = all_blocks(records, cfg).localCheckpoint()
    hb = hot_block_metrics(blocks, cfg).collect()[0]
    guard = {
        "stage": "pairs_skew_guard",
        "n_hot_blocks": int(hb["n_hot_blocks"]),
        "hot_rows": int(hb["hot_rows"]),
        "forgone_pairs": int(hb["forgone_pairs"]),
    }
    pairs = pairs_from_blocks(split_hot_blocks(blocks, cfg).localCheckpoint())
    return pairs, guard


def stage_pair_inputs(
    pairs: DataFrame, records: DataFrame, vectors: DataFrame, cfg: EngineConfig
) -> DataFrame:
    """Joined pair inputs: the broadcast build is paid once here, and
    scoring is a pure map over this frame.

    Layout: the output is sorted within partitions by (left, right). The
    scorer's per-Arrow-batch factorize dedup collapses repeated name-key
    pairs, and that needs same-left adjacency — measured 1.39x on the
    scoring pass against an unordered table and 1.9x against a round-robin
    scatter (COVERAGE.md, Round 5 §1(c)). The pipeline, the fold and the
    bench all take this one layout, so every scoring pass over a stored
    stage table (retrains, threshold sweeps, fold re-scores) inherits it."""
    return pair_inputs(pairs, records, cfg, vectors=vectors).sortWithinPartitions(
        "left", "right"
    )


def stage_scored(inputs: DataFrame, model: Model) -> DataFrame:
    """Features and classifier over the joined pair inputs."""
    return score_pairs(features_from_inputs(inputs), model)


def stage_clusters(
    records: DataFrame,
    vectors: DataFrame,
    pairs: DataFrame,
    scored: DataFrame,
    cfg: EngineConfig,
    model: Model,
) -> DataFrame:
    """Strict clusters over the scored edges.

    G3 match enhancement (reference-disabled default "none") adds verified
    transitive and singleton-rescue edges at confidence 0.60, unioned BEFORE
    the edge-threshold filter: like the reference, they only shape clusters
    when the edge threshold admits them. ``scored`` and ``pairs`` must be
    the whole edge and candidate sets — the fold passes its merged tables,
    so an incremental run with enhancement matches a batch run."""
    edges = scored
    if cfg.enhancement_aggressiveness != "none":
        extra = enhance_matches(records, scored, pairs, cfg, vectors=vectors)
        edges = scored.unionByName(extra.select(*scored.columns))
    edge_t = max(cfg.min_edge_confidence, model.edge_threshold)
    return cluster_records(
        records, edges, edge_t, reliable_every=cfg.cc_reliable_every
    )


class ResolutionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        cfg: EngineConfig | None = None,
        model: Model | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.model = model or Model.default()
        self.wh = Warehouse(spark, warehouse_dir)
        self.metrics: list[dict] = []

    # ------------------------------------------------------------------
    def _log(self, row: dict) -> None:
        self.metrics.append(row)
        self.wh.append_metrics([row])

    def _run_stage(self, name: str, build, resume: bool) -> DataFrame:
        state = self.wh.load_state()
        if resume and name in state["completed"] and self.wh.exists(name):
            return self.wh.read(name)
        t0 = time.monotonic()
        stats = self.wh.write(name, build())
        row = {"stage": name, **stats, "total_ms": int((time.monotonic() - t0) * 1000)}
        self._log(row)
        if name not in state["completed"]:
            state["completed"].append(name)
        state["stages"][name] = row
        self.wh.save_state(state)
        return self.wh.read(name)

    # ------------------------------------------------------------------
    def run(self, transcripts: DataFrame, resume: bool = True) -> PipelineResult:
        cfg, model = self.cfg, self.model

        records = self._run_stage(
            "records", lambda: build_entity_records(transcripts), resume
        )
        vectors = self._run_stage(
            "vectors", lambda: text_vectors(records), resume
        )

        def build_pairs() -> DataFrame:
            pairs, guard = stage_pairs(records, cfg)
            self._log(guard)
            return pairs

        pairs = self._run_stage("pairs", build_pairs, resume)
        inputs = self._run_stage(
            "pair_inputs",
            lambda: stage_pair_inputs(pairs, records, vectors, cfg),
            resume,
        )
        scored = self._run_stage(
            "scored", lambda: stage_scored(inputs, model), resume
        )
        clusters = self._run_stage(
            "clusters",
            lambda: stage_clusters(records, vectors, pairs, scored, cfg, model),
            resume,
        )
        return PipelineResult(clusters=clusters, metrics=self.metrics)

    # ------------------------------------------------------------------
    def run_incremental(self, new_transcripts: DataFrame) -> PipelineResult:
        """Fold NEW conversations into a completed run without re-scoring the
        existing pair set — the reference's processed-set resume semantics
        (processed_ids skip at src/classifying.py:717, embedding-side variant
        src/embedding_and_indexing.py:874-877) as set algebra:

          new pairs   = pairs(blocks(all)) involving >=1 new conv,
                        minus surviving already-scored pairs (left_anti)
          new scoring = features+scoring on the new pairs only
          clustering  = re-run on the full edge set (CC cost is proportional
                        to the sparse match graph, not the corpus)

        Re-delivered conv_ids are replaced (latest wins) IN FULL: their old
        pair rows and scores are retracted first, so every pair touching a
        re-delivered conversation is re-blocked and re-scored against the new
        text — stale edges from the previous delivery cannot leak into
        clustering.

        The fold scores only the new pairs, so it does not keep the
        ``pair_inputs`` table current: before anything is rewritten the
        table is dropped and leaves the completed stages, and a later
        resumed ``run()`` rebuilds it (and whatever it re-scores) from the
        folded pair set.
        """
        cfg, model = self.cfg, self.model
        for stage in ("records", "vectors", "pairs", "scored"):
            if not self.wh.exists(stage):
                raise ValueError(
                    f"run_incremental needs a completed prior run (missing {stage})"
                )
        t0 = time.monotonic()
        new_records = build_entity_records(new_transcripts)
        new_ids = new_records.select("conv_id")
        old_records = self.wh.read("records")
        # Retract everything touching a re-delivered conv_id: pairs scored
        # against the OLD text must not survive the unions below, and block
        # edges the new text no longer produces must disappear.
        old_pairs = _retract(self.wh.read("pairs"), new_ids)
        old_scored = _retract(self.wh.read("scored"), new_ids)
        state = self.wh.load_state()
        if "pair_inputs" in state["completed"]:
            state["completed"].remove("pair_inputs")
            state["stages"].pop("pair_inputs", None)
            self.wh.save_state(state)
        self.wh.drop("pair_inputs")

        records = self._run_stage(
            "records",
            lambda: old_records.join(new_ids, "conv_id", "left_anti").unionByName(
                new_records
            ),
            resume=False,
        )
        vectors = self._run_stage(
            "vectors", lambda: text_vectors(records), resume=False
        )

        def build_fresh_pairs() -> DataFrame:
            # lineage cut: the key battery is scanned by the split's sizes
            # join AND the split output three times below (semi-join probe,
            # touched expansion, pair join) — materialize both once
            raw_blocks = all_blocks(records, cfg).localCheckpoint()
            blocks = split_hot_blocks(raw_blocks, cfg).localCheckpoint()
            new_blocks = blocks.join(new_ids, "conv_id", "left_semi")
            touched = (
                new_blocks.select("block_key").distinct().join(blocks, "block_key")
            )
            # touched is a SUBSET of the block table: two old records that
            # meet in a touched block may share a t: block that is not
            # touched, so the subsumption stamp's precondition fails — pair
            # without it. No lineage cut needed: `blocks` is checkpointed.
            cand = pairs_from_blocks(touched.drop("_st"))
            return cand.join(
                old_pairs.select("left", "right"), ["left", "right"], "left_anti"
            )

        fresh_pairs = self._run_stage("pairs_new", build_fresh_pairs, resume=False)
        scored = self._run_stage(
            "scored",
            lambda: old_scored.unionByName(
                stage_scored(
                    stage_pair_inputs(fresh_pairs, records, vectors, cfg), model
                )
            ),
            resume=False,
        )
        pairs = self._run_stage(
            "pairs", lambda: old_pairs.unionByName(fresh_pairs), resume=False
        )
        clusters = self._run_stage(
            "clusters",
            lambda: stage_clusters(records, vectors, pairs, scored, cfg, model),
            resume=False,
        )
        self._log({
            "stage": "run_incremental",
            "rows": self.metrics[-1]["rows"],
            "wall_ms": int((time.monotonic() - t0) * 1000),
        })
        return PipelineResult(clusters=clusters, metrics=self.metrics)

    # ------------------------------------------------------------------
    def write_report(
        self, labeled: DataFrame, expected: DataFrame | None = None
    ) -> dict:
        """M8 evaluation-report artifact (reference training_report.json +
        PR-curve outputs, /root/reference/src/training.py:926-1100,1313-1327):
        persists the threshold curve, confusion matrix, and cluster summary
        as warehouse tables (_report_*) and one JSON summary alongside the
        state file. Requires a completed run (scored + clusters tables)."""
        import json as _json

        from entity_resolver_spark.operators.evaluation import (
            cluster_report,
            confusion_matrix,
            render_curve_plots,
            threshold_curve,
        )

        for stage in ("scored", "clusters"):
            if not self.wh.exists(stage):
                raise ValueError(f"write_report needs a completed run ({stage})")
        scored = self.wh.read("scored")
        clusters = self.wh.read("clusters")
        self.wh.write("_report_threshold_curve", threshold_curve(scored, labeled))
        self.wh.write("_report_confusion", confusion_matrix(scored, labeled))
        self.wh.write("_report_clusters", cluster_report(clusters, expected))
        confusion = self.wh.read("_report_confusion").collect()[0].asDict()
        summary = {
            "model": {
                "weights": self.model.weights,
                "bias": self.model.bias,
                "threshold": self.model.threshold,
                "edge_threshold": self.model.edge_threshold,
                "metrics": self.model.metrics,
            },
            "confusion": {k: float(v) for k, v in confusion.items()},
            "cluster_summary": {
                k: float(v) if v is not None else None
                for k, v in self.wh.read("_report_clusters")
                .collect()[0]
                .asDict()
                .items()
            },
        }
        if not self.wh.use_iceberg:
            # reference also renders the curves as PNGs
            # (src/training.py:926-1100); matplotlib is optional here —
            # render_curve_plots returns [] when it's absent and the
            # persisted curve table carries the same information.
            summary["plots"] = render_curve_plots(
                self.wh.read("_report_threshold_curve").collect(),
                os.path.join(self.wh.root, "plots"),
            )
            path = os.path.join(self.wh.root, "training_report.json")
            with open(path + ".tmp", "w") as f:
                _json.dump(summary, f, indent=2)
            os.replace(path + ".tmp", path)
        return summary

    # ------------------------------------------------------------------
    def write_side_tables(self, resume: bool = True) -> None:
        """Preprocessing-parity side tables (string_dict/string_counts/
        field_hash_mapping) — separate so the hot path doesn't pay for them."""
        records = self.wh.read("records")
        for name, df in string_stats(records).items():
            self._run_stage(name, lambda df=df: df, resume)


def _retract(pairs: DataFrame, ids: DataFrame) -> DataFrame:
    """Pair rows with neither side in ``ids`` (a one-column conv_id frame),
    in ``pairs``' column order (a using-column join puts its key first)."""
    return (
        pairs.join(ids.withColumnRenamed("conv_id", "left"), "left", "left_anti")
        .join(ids.withColumnRenamed("conv_id", "right"), "right", "left_anti")
        .select(*pairs.columns)
    )


def evaluate_pairs(scored: DataFrame, labeled: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of is_match against labeled pairs that
    share a blocking key (i.e. appear in `scored`) — 'labeled pairs at
    identical blocking keys' per the north_rule. Pairs the blocker never
    produced are scored as negatives (they hurt recall), so blocking recall is
    part of the metric."""
    truths = labeled.select(
        F.least("left", "right").alias("left"),
        F.greatest("left", "right").alias("right"),
        F.col("match").cast("boolean").alias("label"),
    ).dropDuplicates(["left", "right"])
    joined = truths.join(
        scored.select("left", "right", "is_match"), ["left", "right"], "left"
    ).select(
        "label", F.coalesce("is_match", F.lit(False)).alias("pred")
    )
    counts = {
        (r["label"], r["pred"]): r["n"]
        for r in joined.groupBy("label", "pred").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tp = counts.get((True, True), 0)
    fp = counts.get((False, True), 0)
    fn = counts.get((True, False), 0)
    tn = counts.get((False, False), 0)
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "tn": tn, "precision": prec, "recall": rec, "f1": f1}
