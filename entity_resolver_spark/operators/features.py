"""Stage 3 — pairwise feature battery.

The reference computes per-pair features in 200-pair Python chunks with
per-pair vector fetches (/root/reference/src/classifying.py:1157-1234,
src/feature_engineering.py:1822-1924). Here the battery is TWO selects —
``pair_inputs`` (the join + the wide-input features, materialized once per
corpus) and ``features_from_inputs`` (compact-input features, per scoring
pass) — every feature a native column expression or an Arrow-batched pandas
UDF; there is no per-row Python and no point lookups.

Feature set (analogue of the reference's enabled set, config.yml:276-290):
  name_jw            — Jaro-Winkler on name keys (X6/F4)
  name_lev_sim       — Levenshtein similarity on name keys (X6/F3, native)
  text_cosine        — cosine over hashed-TF vectors of the full normalized
                       text ("composite_cosine" X2; embeddings replaced by
                       hashed TF per north_rule)
  name_text_squared  — ((name_jw + text_cosine)/2)^2 ("person_title_squared"
                       X3's shape: average-then-square)
  year_match         — birth/death-year agreement (X4/F6)
  taxonomy_dissimilarity — min category-pair dissimilarity over tools (X5/J9)
  text_jaccard       — KMV bottom-k estimate of word-3-gram Jaccard from two
                       per-record sketches (map-side; separates copy-edited
                       near-dup text from topical similarity, which unigram
                       cosine cannot on small-vocabulary corpora)

The compute-once-per-distinct discipline the reference encodes (embed each
unique string once — src/embedding_and_indexing.py:835-912) is preserved:
hashed-TF vectors are computed per DISTINCT text_hash, then joined back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolver_spark import config as C
from entity_resolver_spark.config import EngineConfig
from entity_resolver_spark.functions.hashing import (
    hashed_tf_vectors,
    kmv_sketch_expr,
)
from entity_resolver_spark.functions.similarity import (
    jaro_winkler_pudf,
    levenshtein_sim_expr,
    make_kmv_jaccard_pudf,
    sparse_cosine_pudf,
)
from entity_resolver_spark.functions.years import (
    year_conflict_expr,
    year_match_expr,
)
from entity_resolver_spark.operators.taxonomy import taxonomy_dissimilarity_expr

# Attributes each pair side needs. Keeping this projection narrow matters:
# the join fan-out is 2x pairs, so every extra column is paid twice.
_SIDE_COLS = [
    "conv_id", "name_key", "name_hash", "birth_year", "death_year",
    "text_hash", "categories",
]

# Vector table key. Context tokens are text MINUS the extracted name tokens,
# and name extraction runs on the RAW (case-preserving) first turn while
# text_hash hashes the case-folded norm_text — so identical text_hash does
# NOT imply identical context_tokens ('JOHN SMITH ...' vs 'John Smith ...'
# share text_hash but extract different names). Deduping on text_hash alone
# picked an arbitrary row's context vector for both. (text_hash, name_hash)
# does imply identical context_tokens: same norm_text + same name_key =>
# same token filter.
_VEC_KEY = ["text_hash", "name_hash"]


def text_vectors(records: DataFrame) -> DataFrame:
    """(text_hash, name_hash, vector) — hashed-TF per distinct
    (normalized text, extracted name) combination.

    Uses ``context_tokens`` (text minus name-key tokens), so the vector
    measures CONTEXT — same-name confounders no longer share the high-IDF
    name mass (see transcripts.build_entity_records).
    Keyed on (text_hash, name_hash) because context_tokens depend on BOTH
    (see _VEC_KEY); the distinct count is ~the distinct-text count, so the
    reference's embed-each-unique-string-once economics are preserved
    (src/embedding_and_indexing.py:835-912).
    """
    col = "context_tokens"
    distinct = records.select(*_VEC_KEY, col).dropDuplicates(_VEC_KEY)
    return hashed_tf_vectors(distinct, _VEC_KEY, col, C.TF_DIM).select(
        *_VEC_KEY, "vector"
    )


def _auto_broadcast(records: DataFrame, cfg: EngineConfig) -> bool:
    """Broadcast-vs-shuffle auto-select for the pair_inputs side table.

    Below ``broadcast_max_records`` rows: broadcast unconditionally (the
    measured-good region; no extra scan). Above it, the decision is BYTE-
    budgeted — a row count is a memory bound in the wrong unit. The first
    corpus to cross the old 1M-row cap (1,007,901 records / 95.56M pairs)
    flipped to the shuffled sort-merge form and paid 1.5x (535s vs 351s
    forced-broadcast, local[16]) to avoid broadcasting a ~1 GB relation.
    The estimate prices a side row as fixed overhead + 16 B per sparse-
    vector entry + the KMV sketch; one avg-sparsity aggregate over the
    records' context tokens (map-side combined) is paid only above the row
    floor, where it is noise against the join it sizes.
    ``broadcast_hard_max_records`` bounds the driver-side relation build
    regardless of estimated bytes.
    """
    n = records.count()
    if n <= cfg.broadcast_max_records:
        return True
    if n > cfg.broadcast_hard_max_records:
        return False
    # Sparsity estimate WITHOUT executing the vectors plan: when the caller
    # passes no vectors they are the un-materialized hashed-TF build, so an
    # aggregate over them would run the full TF/IDF job once for this
    # estimate and again for the join.
    # nnz per vector = min(distinct hash buckets, max_entries=64): bounded
    # above by 64 and by the record's distinct-token count, so the cheap
    # records-side proxy min(distinct tokens, 64) is a (slight) OVER-estimate
    # — collisions only shrink nnz — which errs toward NOT broadcasting, the
    # safe direction for a memory budget.
    avg_nnz = (
        records.agg(
            F.avg(F.least(F.size(F.array_distinct("context_tokens")), F.lit(64)))
        ).first()[0]
        or 0.0
    )
    est_row = (
        C.BROADCAST_ROW_FIXED_BYTES + 16.0 * avg_nnz + 4.0 * C.SHINGLE_SKETCH_K
    )
    return n * est_row <= cfg.broadcast_max_bytes


def pair_inputs(
    pairs: DataFrame,
    records: DataFrame,
    cfg: EngineConfig | None = None,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """The heavy half of pair featurization: pairs ⋈ side(L) ⋈ side(R), plus
    the features whose INPUTS are wide — text cosine (sparse vectors) and
    taxonomy dissimilarity (category arrays) — computed here so the stage
    table the pipeline materializes carries one double each instead of the
    vectors/arrays themselves. Downstream scoring then scans compact rows:
    at 100 TB, threshold sweeps and model retrains re-read this table many
    times and must not re-ship the vector payload each pass (measured: the
    wide-row cache scan was 44% of the scoring wall).

    Split from ``features_from_inputs`` so pipelines can materialize these
    joined+reduced inputs as a stage table — the join build and the
    vector-consuming UDF are paid once per corpus, not once per scoring pass.

    Join strategy (auto-selected by ``_auto_broadcast`` from the three
    ``cfg.broadcast_*`` fields):
    * broadcast — while the per-record side fits executor memory
      (unconditionally <= cfg.broadcast_max_records rows; above that, while
      the BYTE estimate n x (fixed + 16B/vector-entry + sketch) stays under
      cfg.broadcast_max_bytes), broadcasting it makes this stage MAP-ONLY
      over the pairs partitions: zero shuffle of the wide pair rows.
      Catalyst won't pick this itself — it over-estimates the
      map<int,double> column and plans sort-merge, which shuffles
      |pairs| x ~1KB rows twice (measured: that shuffle dominated scoring;
      at 1.008M records / 95.56M pairs the shuffled form cost 1.5x).
    * shuffle (sort-merge/shuffled-hash via AQE) — beyond the byte budget
      (or the hard row ceiling bounding the driver-side relation build) the
      side table can't live in one executor's memory; a shuffled equi-join
      on conv_id scales with the cluster. This is the 100-TB path. The
      auto-switch costs one count() over records (plus, only above the row
      floor, one avg-sparsity aggregate over records) per stage — amortized
      by the join it sizes.
    """
    cfg = cfg or EngineConfig()
    # The KMV shingle sketch rides in the side projection (fixed width,
    # <= 8 * sketch_k bytes) so ``text_jaccard`` is a MAP-SIDE expression over
    # the joined pair row — near-dup evidence without the exact-intersection
    # join (dedup.ngram_jaccard_pairs) that would add a shuffle per pair.
    attrs = records.select(
        *_SIDE_COLS,
        kmv_sketch_expr(F.col("tokens"), C.SHINGLE_K, C.SHINGLE_SKETCH_K).alias(
            "_sketch"
        ),
    )
    if vectors is None:
        vectors = text_vectors(records)

    # ONE side table joined twice through aliases: both joins share the same
    # child plan, so Spark's exchange reuse builds the broadcast hash table
    # once per query instead of four times (attrs x2 + vectors x2 was the
    # measured fixed cost of every scoring pass).
    # name_hash is NULL for nameless records (and the vector rows mirror
    # that), so the name_hash leg must be NULL-SAFE — plain equi-join
    # semantics would strip every nameless record's vector. text_hash stays
    # a plain equality (a NULL text_hash means no tokens, hence no vector).
    vec = vectors.select(
        F.col("text_hash").alias("_vt"),
        F.col("name_hash").alias("_vn"),
        "vector",
    )
    side = attrs.join(
        vec,
        (F.col("text_hash") == F.col("_vt"))
        & F.col("name_hash").eqNullSafe(F.col("_vn")),
        "left",
    ).drop("_vt", "_vn")
    if _auto_broadcast(records, cfg):
        side = F.broadcast(side)
    df = (
        pairs.join(side.alias("L"), F.col("left") == F.col("L.conv_id"))
        .join(side.alias("R"), F.col("right") == F.col("R.conv_id"))
    )

    def L(c: str):
        return F.col(f"L.{c}")

    def R(c: str):
        return F.col(f"R.{c}")

    # Identical-hash short-circuit (the reference returns 1.0 on identical
    # hashes before touching vectors, src/feature_engineering.py:905-915) and
    # the reference's 0.5 missing-vector fallback (:930-948). The UDF is
    # Arrow-batched and numpy-vectorized; the native map_zip_with form is
    # re-inlined per consumer by projection collapse and its per-row map
    # allocations GC-bound the executors.
    text_cos = F.when(L("text_hash") == R("text_hash"), F.lit(1.0)).otherwise(
        F.coalesce(
            sparse_cosine_pudf(
                F.map_keys(L("vector")), F.map_values(L("vector")),
                F.map_keys(R("vector")), F.map_values(R("vector")),
            ),
            F.lit(0.5),
        )
    )
    return df.select(
        "left",
        "right",
        L("name_key").alias("l_name_key"),
        R("name_key").alias("r_name_key"),
        L("birth_year").alias("l_birth_year"),
        L("death_year").alias("l_death_year"),
        R("birth_year").alias("r_birth_year"),
        R("death_year").alias("r_death_year"),
        text_cos.alias("text_cosine"),
        # KMV Jaccard estimate over word-3-gram shingles: separates
        # copy-edited near-duplicate text (high shingle overlap) from merely
        # topical similarity (high cosine, low shingle overlap) — unigram
        # TF-IDF cosine saturates on small-vocabulary corpora where every
        # record looks topically alike. Arrow kernel, evaluated in the SAME
        # ArrowEvalPython stage as the cosine UDF; identical-hash
        # short-circuit as for cosine; missing side -> 0.0 (no overlap
        # evidence; the UDF's NaN converts to SQL NULL).
        F.when(L("text_hash") == R("text_hash"), F.lit(1.0))
        .otherwise(
            F.coalesce(
                make_kmv_jaccard_pudf(C.SHINGLE_SKETCH_K)(
                    L("_sketch"), R("_sketch")
                ),
                F.lit(0.0),
            )
        )
        .alias("text_jaccard"),
        # X5: min dissimilarity over the tool-category cross product — the
        # reference's enabled feature set includes it (config.yml:276-290,
        # scored at src/taxonomy_feature.py:204-313). Native expression over
        # the two small category arrays; taxonomy is broadcast literals.
        taxonomy_dissimilarity_expr(L("categories"), R("categories")).alias(
            "taxonomy_dissimilarity"
        ),
    )


def features_from_inputs(df: DataFrame) -> DataFrame:
    """The light half: compact inputs -> full feature battery (map-only).

    Jaro-Winkler (Arrow-batched UDF over the short name keys) and the native
    arithmetic run here, per scoring pass; the wide-input features arrive
    precomputed in ``df`` (see ``pair_inputs``).
    """

    def L(c: str):
        return F.col(f"l_{c}")

    def R(c: str):
        return F.col(f"r_{c}")

    df = (
        df.withColumn("name_jw", jaro_winkler_pudf(L("name_key"), R("name_key")))
        .withColumn(
            "name_lev_sim", levenshtein_sim_expr(L("name_key"), R("name_key"))
        )
    )
    # Low-similarity indicator (reference X7 person_low_cosine_indicator,
    # src/feature_engineering.py:951-1070, thresholds config.yml:303-309):
    # gives the linear scorer the curvature to reject same-name records whose
    # contexts clearly diverge — transitive closure punishes those hardest.
    df = df.withColumn(
        "text_low", (F.col("text_cosine") < F.lit(0.6)).cast("double")
    )
    df = df.withColumn(
        "name_text_squared",
        F.pow((F.col("name_jw") + F.col("text_cosine")) / 2.0, 2),
    ).withColumn(
        "year_match",
        year_match_expr(
            L("birth_year"), L("death_year"), R("birth_year"), R("death_year"),
            C.YEAR_TOLERANCE,
        ),
    ).withColumn(
        "year_conflict",
        year_conflict_expr(
            L("birth_year"), L("death_year"), R("birth_year"), R("death_year"),
            C.YEAR_TOLERANCE,
        ),
    )
    return df.select("left", "right", *C.FEATURE_COLS)
