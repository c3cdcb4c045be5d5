"""Attribute blocking-recall misses at the 24k corpus to their cause:
(a) pair shares an UNSPLIT block key but lost it to hot-block splitting, or
(b) pair shares NO block key at all (key-coverage gap), broken out by which
pass family the shared key came from.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from entity_resolver_spark import datagen
from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.operators.blocking import all_blocks
from entity_resolver_spark.operators.transcripts import build_entity_records
from entity_resolver_spark.plans.pipeline import stage_pairs
from entity_resolver_spark.session import get_spark


def main() -> None:
    n_entities = int(os.environ.get("SPARK_GRAFT_DIAG_ENTITIES", "24000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark("er-diag-block", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.range(1000).count()

    cfg = EngineConfig()
    data = datagen.generate(
        n_entities=n_entities, convs_per_entity=(2, 5), turns_per_conv=(3, 12)
    )
    transcripts = datagen.to_spark(spark, data["transcripts"]).repartition(cpus)
    labeled = spark.createDataFrame(data["labeled_pairs"])

    records = build_entity_records(transcripts).localCheckpoint()
    pairs = stage_pairs(records, cfg)[0].localCheckpoint()

    truths = labeled.where("match").select(
        F.least("left", "right").alias("left"),
        F.greatest("left", "right").alias("right"),
    ).dropDuplicates(["left", "right"])
    missed = truths.join(pairs, ["left", "right"], "left_anti").localCheckpoint()
    n_missed = missed.count()

    blocks = all_blocks(records, cfg).localCheckpoint()  # UNSPLIT
    a = blocks.select(F.col("conv_id").alias("left"), "block_key")
    b = blocks.select(F.col("conv_id").alias("right"), "block_key")
    shared = (
        missed.join(a, "left").join(b, ["right", "block_key"])
        .select("left", "right", "block_key")
    ).localCheckpoint()

    fam = F.when(F.col("block_key").startswith("t:"), "exact") \
        .when(F.col("block_key").startswith("i:"), "anchor_identity") \
        .when(F.col("block_key").startswith("a:"), "anchor_anagram") \
        .when(F.col("block_key").startswith("m"), "minhash_text") \
        .when(F.col("block_key").startswith("r"), "rare_shingle") \
        .otherwise("other")

    print(f"\nmissed true pairs: {n_missed}")
    split_loss = shared.select("left", "right").dropDuplicates().count()
    print(json.dumps({
        "missed_total": n_missed,
        "lost_to_hot_block_split": split_loss,
        "no_shared_key_at_all": n_missed - split_loss,
    }))
    print("=== shared-key families among split-lost pairs ===")
    shared.withColumn("fam", fam).groupBy("fam").agg(
        F.count_distinct("left", "right").alias("n_pairs")
    ).orderBy(F.desc("n_pairs")).show()

    print("=== block sizes of the split-causing keys (top 30) ===")
    sizes = blocks.groupBy("block_key").agg(F.count(F.lit(1)).alias("n"))
    shared.select("block_key").dropDuplicates().join(sizes, "block_key") \
        .orderBy(F.desc("n")).show(30, truncate=False)

    # For pairs with NO shared key: show name forms
    print("=== sample no-key pairs (key-coverage gap) ===")
    nokey = missed.join(shared.select("left", "right").dropDuplicates(),
                        ["left", "right"], "left_anti")
    names = records.select("conv_id", "name_raw", "name_key")
    (
        nokey.join(names.select(F.col("conv_id").alias("left"),
                                F.col("name_raw").alias("l_name")), "left")
        .join(names.select(F.col("conv_id").alias("right"),
                           F.col("name_raw").alias("r_name")), "right")
        .select("left", "right", "l_name", "r_name")
        .show(30, truncate=50)
    )


if __name__ == "__main__":
    main()
