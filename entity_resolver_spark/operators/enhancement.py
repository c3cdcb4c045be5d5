"""G3 — post-classification match enhancement (anti-undermerging pass).

Re-expresses the reference's ``_enhance_entity_matches``
(/root/reference/src/classifying.py:1970-2160) as DataFrame plans. The
reference SHIPS this disabled (``enhancement_aggressiveness: "none"``,
config.yml:26, early return classifying.py:1985-1987) and we keep that
default (EngineConfig.enhancement_aggressiveness); the operator exists so a
user who flips the knob gets the same semantics at Spark scale.

Two sub-passes, mirroring the reference:

1. **Limited transitive matching** — for entities that already have matches
   (optionally only those with a high-confidence >= 0.75 match, the
   'minimal' preset), every graph neighbor reachable within
   ``max_distance`` hops (but not already a direct match) is a candidate;
   the pair is verified by recomputing features and requiring
   ``text_cosine >= 0.60`` (the reference verifies ``composite_cosine >=
   0.60``, its name for the same text-embedding cosine; our hashed-TF
   ``text_cosine`` is that feature, operators/features.py X1/X2). Verified
   pairs become edges at confidence 0.60.

   Spark shape: the per-entity BFS over ``self.entity_matches`` dicts
   becomes ``max_distance - 1`` self-joins of the (tiny) undirected match
   edge set — frontier expansion as a join, not a driver loop over nodes.
   A component of size c contributes at most c^2 frontier rows; match
   components are cluster-sized (bounded in practice by MAX_BLOCK_SIZE
   economics upstream), so no skew guard is needed where the strict
   pipeline's own edges are the input.

2. **Singleton rescue** (skipped by 'minimal', like the reference) — for
   records with NO match edge, take the single most name-similar blocked
   candidate neighbor (reference: top Weaviate person-vector hit at
   similarity >= 0.7, at most ONE per singleton, classifying.py:2106-2152;
   our blocking IS that ANN analogue — SURVEY J4 — and ``name_jw`` the
   name-similarity measure) and verify it at ``text_cosine >=
   second_pass_threshold``. The reference samples 100 singletons purely as
   an API cost control; a distributed verify has no such cost cliff, so
   every singleton is considered (documented deviation).

Enhanced edges carry confidence 0.60 — BELOW the strict-clustering default
``min_edge_confidence`` 0.65, exactly as in the reference, where strict
clustering filters them back out (classifying.py:2184-2284) and only the
non-strict path (G2) consumes them. Callers who want enhancement to affect
strict clusters must lower ``min_edge_confidence`` alongside, same as the
reference's config contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.operators.features import (
    features_from_inputs,
    pair_inputs,
)

# Aggressiveness presets (reference classifying.py:1993-2010).
# max_distance=1 makes the transitive pass structurally empty (extended
# matches start at distance 2) — true of the reference too: its 'minimal'
# first pass iterates range(2, 2) and adds nothing; only the (skipped for
# minimal) singleton pass could. We mirror that faithfully.
_PRESETS = {
    "minimal": dict(max_distance=1, second_pass_threshold=0.65, high_conf_only=True),
    "moderate": dict(max_distance=2, second_pass_threshold=0.60, high_conf_only=False),
    "aggressive": dict(max_distance=3, second_pass_threshold=0.50, high_conf_only=False),
}

# Extended (distance >= 2) pairs verify at this text-cosine floor regardless
# of preset (reference hardcodes composite_cosine >= 0.60,
# classifying.py:2075-2078).
_EXTENDED_COSINE_FLOOR = 0.60

# Confidence assigned to every enhanced edge (reference: "Conservative
# confidence", classifying.py:2092, 2147).
ENHANCED_CONFIDENCE = 0.60

# Singleton rescue: minimum name similarity of the one candidate neighbor
# (reference: Weaviate person-vector threshold 0.7, classifying.py:2128).
_SINGLETON_NAME_SIM = 0.70


def _canon(df: DataFrame) -> DataFrame:
    return df.select(
        F.least("left", "right").alias("left"),
        F.greatest("left", "right").alias("right"),
    ).dropDuplicates(["left", "right"])


def enhance_matches(
    records: DataFrame,
    scored: DataFrame,
    candidates: DataFrame,
    cfg: EngineConfig | None = None,
    aggressiveness: str | None = None,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """records x scored(left, right, proba, is_match) x candidates(left,
    right) -> NEW edges (left, right, proba=0.60, is_match=true) that the
    classifier did not produce. Union the result with ``scored`` before
    clustering. Returns an empty frame for aggressiveness 'none'.
    """
    cfg = cfg or EngineConfig()
    agg = aggressiveness if aggressiveness is not None else cfg.enhancement_aggressiveness
    spark = records.sparkSession
    empty = spark.createDataFrame(
        [], "left string, right string, proba double, is_match boolean"
    )
    if agg == "none":
        return empty
    if agg not in _PRESETS:
        raise ValueError(f"unknown enhancement aggressiveness: {agg!r}")
    p = _PRESETS[agg]

    matches = scored.where(F.col("is_match")).select("left", "right", "proba")
    # The match graph is corpus-tiny (edges ~= records); it is scanned by
    # several joins below — cut the caller's plan once.
    direct = _canon(matches).localCheckpoint()
    und = direct.select(F.col("left").alias("u"), F.col("right").alias("v")).unionByName(
        direct.select(F.col("right").alias("u"), F.col("left").alias("v"))
    )

    # ---- pass 1: limited transitive candidates (distance 2..max_distance)
    frontier = und.select(F.col("u").alias("s"), F.col("v").alias("n"))
    if p["high_conf_only"]:
        seeds = (
            matches.where(F.col("proba") >= 0.75)
            .select(F.col("left").alias("s"))
            .union(matches.where(F.col("proba") >= 0.75).select(F.col("right").alias("s")))
            .distinct()
        )
        frontier = frontier.join(seeds, "s")
    # fresh column names per hop — the frontier's lineage already contains
    # `und`, so a raw self-join would hit ambiguous attribute resolution
    hop = und.select(F.col("u").alias("_hu"), F.col("v").alias("_hv"))
    reached = None
    for _ in range(2, p["max_distance"] + 1):
        frontier = (
            frontier.join(hop, frontier["n"] == hop["_hu"])
            .select("s", F.col("_hv").alias("n"))
            .where(F.col("s") != F.col("n"))
            .distinct()
        )
        reached = frontier if reached is None else reached.unionByName(frontier)
    if reached is None:
        ext = direct.limit(0)
    else:
        ext = _canon(
            reached.select(F.col("s").alias("left"), F.col("n").alias("right"))
        ).join(direct, ["left", "right"], "left_anti")

    # ---- pass 2: singleton candidates (one name-similar blocked neighbor)
    sing_cands = direct.limit(0)
    if agg != "minimal":
        endpoints = (
            direct.select(F.col("left").alias("conv_id"))
            .union(direct.select(F.col("right").alias("conv_id")))
            .distinct()
        )
        singles = records.select("conv_id").join(endpoints, "conv_id", "left_anti")
        cand = _canon(candidates)
        touching = cand.join(
            singles.withColumnRenamed("conv_id", "left"), "left", "left_semi"
        ).unionByName(
            cand.join(
                singles.withColumnRenamed("conv_id", "right"), "right", "left_semi"
            ).select("left", "right")
        )
        sing_cands = touching.dropDuplicates(["left", "right"]).join(
            direct, ["left", "right"], "left_anti"
        )

    # ---- one feature pass over both candidate sets, then split the gates.
    # The classifier's own battery (map-only over a broadcast/shuffled side
    # join — see operators/features.py); the verify sets here are tiny
    # relative to the blocked candidate set.
    # The two sets are DISJOINT by construction (every endpoint of an
    # extended pair has at least one match edge; singleton candidates touch
    # a record with none), so the tag survives the distinct untouched.
    tagged = (
        ext.withColumn("_ext", F.lit(True))
        .unionByName(sing_cands.withColumn("_ext", F.lit(False)))
        .groupBy("left", "right")
        .agg(F.max("_ext").alias("_ext"))
        .localCheckpoint()
    )
    if tagged.isEmpty():
        return empty
    feats = features_from_inputs(
        pair_inputs(tagged.select("left", "right"), records, cfg, vectors=vectors)
    ).join(tagged, ["left", "right"])

    ext_ok = feats.where(
        F.col("_ext") & (F.col("text_cosine") >= F.lit(_EXTENDED_COSINE_FLOOR))
    ).select("left", "right")

    out = ext_ok
    if agg != "minimal":
        sing_feats = feats.where(
            (~F.col("_ext")) & (F.col("name_jw") >= F.lit(_SINGLETON_NAME_SIM))
        )
        # At most ONE rescued edge per singleton: best neighbor by name
        # similarity (deterministic tiebreak on the pair id). The top-1
        # restriction is keyed on the SINGLETON side only — a pair may touch
        # a singleton on one side and an already-matched record on the
        # other; the reference iterates singletons, not their neighbors.
        sing_sided = (
            sing_feats.select(
                F.col("left").alias("single"), "left", "right", "name_jw", "text_cosine"
            )
            .unionByName(
                sing_feats.select(
                    F.col("right").alias("single"),
                    "left", "right", "name_jw", "text_cosine",
                )
            )
            .join(
                singles.withColumnRenamed("conv_id", "single"), "single", "left_semi"
            )
        )
        w = Window.partitionBy("single").orderBy(
            F.desc("name_jw"), F.asc("left"), F.asc("right")
        )
        sing_ok = (
            sing_sided.withColumn("_rk", F.row_number().over(w))
            .where(
                (F.col("_rk") == 1)
                & (F.col("text_cosine") >= F.lit(p["second_pass_threshold"]))
            )
            .select("left", "right")
        )
        out = out.unionByName(sing_ok)

    out = out.dropDuplicates(["left", "right"])
    return out.select(
        "left",
        "right",
        F.lit(ENHANCED_CONFIDENCE).alias("proba"),
        F.lit(True).alias("is_match"),
    )
