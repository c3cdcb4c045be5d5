"""Engine defaults.

Mirrors the reference's tunables (cited by file:line in /root/reference) but as
plain Python constants — the reference reads them from config.yml; we keep the
same semantics with Spark-appropriate values.
"""

from __future__ import annotations

from dataclasses import dataclass

# Deterministic seed everywhere (reference: config.yml:4 `random_seed: 42`).
SEED = 42

# Hashed-TF vector dimensionality. The reference embeds with OpenAI
# text-embedding-3-small @1536 dims (reference config.yml:85); we use a
# deterministic hashed term-frequency space instead (no network, no model).
TF_DIM = 512

# MinHash-LSH: n_hashes = bands * rows_per_band. Jaccard-similar texts collide
# in >=1 band w.h.p.; replaces the reference's Weaviate ANN stage
# (src/classifying.py:1663-1833, cosine distance <= 0.18). The blocking
# signature runs over the RARE_SHINGLE_K distinct-shingle table below.
MINHASH_HASHES = 16
MINHASH_BANDS = 8  # rows_per_band = 2 -> catches moderate Jaccard overlap

# Word-shingle width for the KMV text_jaccard sketch (3-grams over
# normalized tokens).
SHINGLE_K = 3

# Bottom-k (KMV) shingle sketch carried per record into the pair-feature
# battery: the k smallest xxhash64 values over the record's distinct word
# 3-gram shingles. The per-pair ``text_jaccard`` feature is the KMV estimate
# |bottom_k(A ∪ B) ∩ A ∩ B| / |bottom_k(A ∪ B)| — computed MAP-SIDE from two
# fixed-width arrays (~8·k bytes/side), no extra shuffle, unlike an exact
# intersection join. Near-duplicate texts are strong same-entity evidence
# that unigram TF-IDF cosine cannot see when the vocabulary is small (every
# doc looks topically alike); the sketch separates copy-edits from topical
# similarity. Estimator std ≈ sqrt(J(1-J)/k) ≈ 0.06 at J=0.5 with k=64.
SHINGLE_SKETCH_K = 64

# Rare-shingle inverted index (the ``r`` blocking pass): any distinct word
# shingle with document frequency <= this cap is itself a block key. Near-dup
# texts share rare shingles; the cap bounds junk at C(df, 2) pairs per
# shingle. Measured at the 24k-entity corpus: recall of labeled true pairs
# 0.9746 -> 0.9990 for +20% candidate volume (catches name-mangled records
# no name pass can key). A cap <= 1 leaves no block, so the pass emits
# nothing.
RARE_SHINGLE_MAX_DF = 6

# Shingle length for the rare-shingle index — deliberately LONGER than
# SHINGLE_K (which feeds the KMV text_jaccard sketch, tuned for Jaccard
# estimation). Rarity must hold against corpus growth: over a bounded
# vocabulary the df of every k-shingle grows linearly with the corpus, so an
# absolute df cap silently strangles the pass as data scales (measured:
# 3-shingles at df<=6 covered blocking recall 0.989 at 252k records but only
# 0.945 at 504k — crowding-out, the same pairs, the same cap). The
# scale-correct response is a LONGER shingle, which restores per-shingle
# specificity at the SAME C(df, 2) volume bound — raising the df cap instead
# buys less recall for more pairs (504k records: k=4/df6 recall 0.99778 at 88
# pairs/rec vs k=3/df12 0.98592 at 105). Rule of thumb when scaling further:
# grow k until the rare-shingle pass again covers >=90% of records with >=1
# rare shingle; k=4 survives the corpus's 12% token-dropout noise fine (a
# 4-shingle survives both sides of a near-dup pair with p ~ 0.36 per
# occurrence, and every conversation carries dozens of shingles).
#
# MEASURED BOUNDARY of the longer-shingle rule (r6, 288k entities /
# 1.008M records): k=5 at df<=6 read blocking recall 0.99155 vs 0.99562
# for k=4 — WORSE, because this corpus's token-dropout noise breaks
# 5-shingles faster than rarity decays (the coverage precondition fails
# before the specificity gain pays). The lever that DOES restore recall
# at that scale is the df cap (6 -> 12: recall 0.99771 at +36% candidate
# volume) — see docs/DEPLOY_100TB.md §4b for the trade matrix and the
# F1-floor projection at default caps.
RARE_SHINGLE_K = 4

# Skew guard: blocks larger than this are split deterministically; the split
# (and the pairs it forgoes) is recorded in stage metrics. A block of size B
# emits B^2/2 pairs, so the cap bounds per-block pair fan-out quadratically
# (64 -> <=2016 pairs). Genuine same-entity groups are far smaller than 64;
# only junk buckets (stop-shingle LSH bands, very common names) exceed it —
# the reference's analogue is the ANN retrieval cap (config.yml:170-174).
MAX_BLOCK_SIZE = 64

# Default decision threshold of operators/scoring.Model (reference
# config.yml:253 `decision_threshold: 0.56`; re-swept on the 3000-entity
# corpus after the context-vector change). Trained models carry their own.
DECISION_THRESHOLD = 0.57

# Minimum edge confidence for clustering (reference config.yml:234
# `min_edge_confidence: 0.65` consumed at src/classifying.py:2199-2209).
MIN_EDGE_CONFIDENCE = 0.65
# Trained models carry their own precision-targeted edge threshold (see
# operators/scoring.train); this is the default-weights counterpart
# (decision 0.56 + the reference-style safety band).
DEFAULT_EDGE_THRESHOLD = 0.67

# G3 post-classification match enhancement (operators/enhancement.py):
# "none" | "minimal" | "moderate" | "aggressive". The reference SHIPS this
# disabled (config.yml:26, early return src/classifying.py:1985-1987) and so
# do we; enhanced edges carry confidence 0.60, which the strict clustering
# default above (0.65) filters back out — flip this AND lower
# min_edge_confidence to make enhancement affect strict clusters, exactly
# the reference's config contract.
ENHANCEMENT_AGGRESSIVENESS = "none"

# Birth/death year tolerance (reference config.yml:330, used at
# src/feature_engineering.py:1174-1302).
YEAR_TOLERANCE = 2

# pair_inputs broadcasts the per-record attrs+vector side while it fits:
# ~1 KB/record serialized (name key + years + a <=64-entry sparse vector), so
# 1M records ~ 1 GB — the ceiling for an executor-resident hash relation.
# Measured both ways with repeats+minima (single runs on this box mislead —
# one noisy window showed broadcast losing 69s vs 9s, which three repeated
# protocols later contradicted): at 84k and 196k records the broadcast join
# beats the shuffled equi-join at BOTH local[4] and local[16] (196k records,
# local[16]: 13.3s vs 71.1s — the shuffled path moves |pairs| x ~200B rows
# twice, the broadcast path moves nothing). The ~1s single-threaded
# hash-relation build is real but second-order below the cap. Beyond the cap
# the shuffled equi-join takes over: it scales with the cluster instead of
# with executor memory. The reference's analogue is per-process dict probes
# over ALL records (src/feature_engineering.py:48-162) — memory-unbounded;
# this is not.
BROADCAST_MAX_RECORDS = 1_000_000

# Above the unconditional-broadcast floor the decision is BYTE-budgeted:
# a row count is a memory bound in the wrong unit. Measured at the first
# corpus to cross the old 1M-row cap (288k entities -> 1,007,901 records,
# 95.56M pairs, local[16], forced-strategy A/B in COVERAGE.md, Round 5 item 12):
# the side table is ~27.8 avg map entries/row ≈ ~1.06 KB/row estimated
# (~521 MB parquet), and the forced-broadcast plan ran 351s vs 535s for the
# shuffled sort-merge form — the auto-switch to shuffle at 1.008M rows cost
# 1.5x for a relation that fits ANY executor. The estimate below prices a
# side row as fixed overhead + 16 B per sparse-vector entry + the KMV
# sketch, and broadcasts while n_rows x est_row <= BROADCAST_MAX_BYTES
# (with a hard row ceiling bounding the driver-side relation build
# regardless of estimated bytes). At 100-TB scale (~50 B records) the
# estimate lands ~50 TB and the shuffled equi-join — which scales with the
# cluster, not with executor memory — takes over as before.
#
# Budget headroom (r6, from the r5 advisor): est_row prices the SERIALIZED
# row (~2x the parquet bytes measured at 1.008M records), but the in-memory
# BroadcastHashJoin relation — unsafe rows + hash index — runs 3-5x parquet,
# i.e. ~1.5-2.5x est_row. Spark hard-caps a broadcast relation at 8 GB /
# 512M rows, and the driver must hold one copy while building. A 2 GiB
# estimated budget therefore leaves ~2x headroom below the 8 GB cap at the
# worst measured expansion (2 GiB est -> ~5 GiB in memory) and stays well
# inside the default 24 GiB driver of this engine's sessions. The measured
# 1.008M-record corpus (est ~1.06 GiB) keeps broadcasting under this budget;
# the 1.5x regression it fixed stays fixed.
BROADCAST_MAX_BYTES = 2 * 1024**3
BROADCAST_HARD_MAX_RECORDS = 8_000_000
BROADCAST_ROW_FIXED_BYTES = 360

# Durability: every K large/small-star rounds, connected_components cuts
# lineage with a RELIABLE checkpoint() (blocks on the checkpoint filesystem,
# survive executor loss) instead of localCheckpoint() (executor-local blocks
# — one lost executor mid-loop kills the job). 0 keeps the local-mode fast
# path; on a real cluster set e.g. 5 and call
# spark.sparkContext.setCheckpointDir(...) (scripts/submit_job.py
# --checkpoint-dir does both). The reference's analogue is its pickle
# checkpoint_manager (src/checkpoint_manager.py:100-158).
CC_RELIABLE_EVERY = 0

# Training hyper-parameters (reference config.yml:246-253).
LR_LEARNING_RATE = 0.05
LR_L2 = 0.01
LR_MAX_ITER = 2000
LR_CLASS_WEIGHT_POS = 5.0  # class_weight 5:1 favoring recall
LR_PATIENCE = 50

# Feature column order — fixed so trained weights line up with the scoring
# expression (the reference fixes feature order via its registry,
# src/feature_engineering.py:306-337).
FEATURE_COLS = [
    "name_jw",
    "name_lev_sim",
    "text_cosine",
    "name_text_squared",
    "year_match",
    "year_conflict",
    "text_low",
    "taxonomy_dissimilarity",
    "text_jaccard",
]

# Default pre-trained weights: fit by entity_resolver_spark.operators.scoring
# on the deterministic 3000-entity datagen corpus (seed 42, stratified split,
# context-token vectors); regenerate with
# `python -m entity_resolver_spark.operators.scoring`. Inference never loads a
# model object — these become literals in the scoring expression (the
# reference's sigma(X.w + b), src/training.py:371-497).
DEFAULT_WEIGHTS: dict[str, float] = {
    "name_jw": 0.1555,
    "name_lev_sim": 0.0472,
    "text_cosine": 1.8220,
    "name_text_squared": 1.3337,
    "year_match": 0.1721,
    "year_conflict": -0.1188,
    "text_low": -2.1298,
    "taxonomy_dissimilarity": -0.3335,
    "text_jaccard": 0.3594,
}
DEFAULT_BIAS = 0.5247


@dataclass
class EngineConfig:
    """The deployment and tuning settings a caller can set. The constants
    above that are not fields here (SEED, TF_DIM, the MinHash and shingle
    widths, YEAR_TOLERANCE, FEATURE_COLS, BROADCAST_ROW_FIXED_BYTES) are read
    directly: most of them define the feature space DEFAULT_WEIGHTS was fit
    on, so changing one without a retrain would mis-score every pair."""

    rare_shingle_max_df: int = RARE_SHINGLE_MAX_DF
    rare_shingle_k: int = RARE_SHINGLE_K
    max_block_size: int = MAX_BLOCK_SIZE
    cc_reliable_every: int = CC_RELIABLE_EVERY
    enhancement_aggressiveness: str = ENHANCEMENT_AGGRESSIVENESS
    broadcast_max_records: int = BROADCAST_MAX_RECORDS
    broadcast_max_bytes: int = BROADCAST_MAX_BYTES
    broadcast_hard_max_records: int = BROADCAST_HARD_MAX_RECORDS
    min_edge_confidence: float = MIN_EDGE_CONFIDENCE
