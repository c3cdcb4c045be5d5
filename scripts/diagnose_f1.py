"""Diagnose the strict-F1 drop at the enlarged (24k-entity) bench corpus.

Splits the loss into (a) blocking-recall misses — labeled true pairs the
blocker never produced, counted as FN by the strict metric — and (b) scoring
errors on covered pairs, then prints per-category samples (name forms,
feature values) so the fix targets the right stage.

Usage: SPARK_GRAFT_DIAG_ENTITIES=24000 python scripts/diagnose_f1.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from entity_resolver_spark import datagen
from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.operators.features import (
    features_from_inputs,
    text_vectors,
)
from entity_resolver_spark.operators.scoring import Model
from entity_resolver_spark.operators.transcripts import build_entity_records
from entity_resolver_spark.plans.pipeline import (
    stage_pair_inputs,
    stage_pairs,
    stage_scored,
)
from entity_resolver_spark.session import get_spark


def main() -> None:
    n_entities = int(os.environ.get("SPARK_GRAFT_DIAG_ENTITIES", "24000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark("er-diagnose", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.range(1000).count()

    cfg = EngineConfig()
    data = datagen.generate(
        n_entities=n_entities, convs_per_entity=(2, 5), turns_per_conv=(3, 12)
    )
    transcripts = datagen.to_spark(spark, data["transcripts"]).repartition(cpus)
    labeled = spark.createDataFrame(data["labeled_pairs"])

    records = build_entity_records(transcripts).localCheckpoint()
    n_records = records.count()
    pairs = stage_pairs(records, cfg)[0].localCheckpoint()
    n_pairs = pairs.count()

    truths = labeled.select(
        F.least("left", "right").alias("left"),
        F.greatest("left", "right").alias("right"),
        F.col("match").alias("label"),
    ).dropDuplicates(["left", "right"]).localCheckpoint()

    # --- blocking recall ---------------------------------------------------
    cov = truths.join(
        pairs.withColumn("covered", F.lit(True)), ["left", "right"], "left"
    ).select("left", "right", "label", F.coalesce("covered", F.lit(False)).alias("covered"))
    cov = cov.localCheckpoint()
    bc = {
        (r["label"], r["covered"]): r["n"]
        for r in cov.groupBy("label", "covered").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    pos_cov = bc.get((True, True), 0)
    pos_miss = bc.get((True, False), 0)
    neg_cov = bc.get((False, True), 0)
    neg_miss = bc.get((False, False), 0)

    # --- scoring on covered pairs -----------------------------------------
    model = Model.default()
    vectors = text_vectors(records).localCheckpoint()
    inputs = stage_pair_inputs(pairs, records, vectors, cfg).localCheckpoint()
    feats = features_from_inputs(inputs)
    scored = stage_scored(inputs, model).localCheckpoint()

    ev = truths.join(
        scored.select("left", "right", "proba", "is_match"), ["left", "right"], "left"
    ).select(
        "left", "right", "label", "proba",
        F.coalesce("is_match", F.lit(False)).alias("pred"),
        F.col("proba").isNotNull().alias("covered"),
    ).localCheckpoint()
    cm = {
        (r["label"], r["pred"], r["covered"]): r["n"]
        for r in ev.groupBy("label", "pred", "covered").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tp = sum(v for (l, p, c), v in cm.items() if l and p)
    fp = sum(v for (l, p, c), v in cm.items() if not l and p)
    fn_block = sum(v for (l, p, c), v in cm.items() if l and not p and not c)
    fn_score = sum(v for (l, p, c), v in cm.items() if l and not p and c)
    fn = fn_block + fn_score
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    rec_cov = tp / (tp + fn_score) if tp + fn_score else 1.0
    f1_cov = 2 * prec * rec_cov / (prec + rec_cov) if prec + rec_cov else 0.0

    print(json.dumps({
        "n_entities": n_entities,
        "n_records": n_records,
        "n_pairs": n_pairs,
        "labeled_pos": pos_cov + pos_miss,
        "labeled_neg": neg_cov + neg_miss,
        "blocking_recall_pos": round(pos_cov / max(pos_cov + pos_miss, 1), 5),
        "pos_missed_by_blocking": pos_miss,
        "tp": tp, "fp": fp, "fn_block": fn_block, "fn_score": fn_score,
        "precision": round(prec, 5),
        "recall_strict": round(rec, 5),
        "f1_strict": round(f1, 5),
        "recall_covered_only": round(rec_cov, 5),
        "f1_covered_only": round(f1_cov, 5),
    }))

    names = records.select("conv_id", "name_raw", "name_key")

    def with_names(df):
        return (
            df.join(names.select(F.col("conv_id").alias("left"),
                                 F.col("name_raw").alias("l_name"),
                                 F.col("name_key").alias("l_key")), "left")
            .join(names.select(F.col("conv_id").alias("right"),
                               F.col("name_raw").alias("r_name"),
                               F.col("name_key").alias("r_key")), "right")
        )

    # --- blocking-miss recoverability breakdown ----------------------------
    # For every true pair the blocker missed: do the two sides share ANY
    # rare_shingle_k-shingle, and if so what is the minimum document
    # frequency among the shared ones? min_df <= cap means the pair SHOULD
    # have collided (a bug / split casualty); cap < min_df <= 2*cap means a
    # df-cap bump would catch it; no shared shingle at all means only a
    # name-keyed pass can ever catch it.
    from entity_resolver_spark.operators.blocking import _shingle_hash_rows

    misses = cov.where(F.col("label") & ~F.col("covered")).select("left", "right")
    sh = _shingle_hash_rows(records, cfg)
    df_tbl = sh.groupBy("_gh").agg(F.count(F.lit(1)).alias("_df"))
    lsh = sh.select(F.col("conv_id").alias("left"), "_gh")
    rsh = sh.select(F.col("conv_id").alias("right"), "_gh")
    shared = (
        misses.join(lsh, "left")
        .join(rsh, ["right", "_gh"])
        .join(df_tbl, "_gh")
        .groupBy("left", "right")
        .agg(F.min("_df").alias("min_shared_df"), F.count(F.lit(1)).alias("n_shared"))
    )
    breakdown = (
        misses.join(shared, ["left", "right"], "left")
        .select(
            F.when(F.col("min_shared_df").isNull(), "no_shared_shingle")
            .when(F.col("min_shared_df") <= cfg.rare_shingle_max_df, "shared_rare(split/bug)")
            .when(F.col("min_shared_df") <= 2 * cfg.rare_shingle_max_df, "df_cap_2x_would_catch")
            .otherwise("only_hot_shingles_shared")
            .alias("bucket")
        )
        .groupBy("bucket")
        .count()
        .orderBy("bucket")
    )
    print("\n=== blocking-miss recoverability ===")
    breakdown.show(truncate=False)

    print("\n=== sample FN: missed by BLOCKING (true pair, no candidate) ===")
    miss = cov.where(F.col("label") & ~F.col("covered")).limit(25)
    with_names(miss).select("left", "right", "l_name", "r_name").show(25, truncate=60)

    print("=== sample FN: covered but scored below threshold ===")
    fs = ev.where(F.col("label") & ~F.col("pred") & F.col("covered")).limit(25)
    with_names(fs).join(feats, ["left", "right"]).show(25, truncate=30)

    print("=== sample FP: scored above threshold but labeled false ===")
    fps = ev.where(~F.col("label") & F.col("pred")).limit(25)
    with_names(fps).join(feats, ["left", "right"]).show(25, truncate=30)

    # FP same-name vs different-name split (confounders vs collateral)
    fp_all = ev.where(~F.col("label") & F.col("pred"))
    fp_named = with_names(fp_all).select(
        (F.col("l_key") == F.col("r_key")).alias("same_key")
    ).groupBy("same_key").count()
    print("=== FP by same-name-key ===")
    fp_named.show()

    # proba histogram of score-FNs (how far below threshold?)
    print("=== score-FN proba deciles ===")
    ev.where(F.col("label") & ~F.col("pred") & F.col("covered")).select(
        F.floor(F.col("proba") * 10).alias("decile")
    ).groupBy("decile").count().orderBy("decile").show()


if __name__ == "__main__":
    main()
