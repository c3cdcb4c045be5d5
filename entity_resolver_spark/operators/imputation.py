"""Attribute imputation from similar records (subject-enhancement analogue).

Reference parity: subject imputation fills missing ``subjects`` for a record
from vector-similar composites — weighted centroid over neighbors' subject
vectors, argmax + top-k alternatives, log-frequency scoring
(/root/reference/src/subject_imputation.py:298-391, src/subject_quality.py:
209-296; operators A5/A6, W1/W2, J7 in SURVEY §2).

Here: impute a missing categorical attribute (e.g. ``tool``) for a
conversation from the attribute values of records sharing blocking keys,
weighted by pair text-cosine — the same compute shape (similarity join ->
weighted vote -> windowed top-k) without external vector services.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entity_resolver_spark.functions.hashing import sparse_cosine_expr


def _one_vector_per_text(vectors: DataFrame) -> DataFrame:
    """Collapse features.text_vectors' (text_hash, name_hash) key to one
    vector per text_hash: imputation votes join on text_hash alone, and a
    text with several extracted-name variants (casing differences in the raw
    first turn) must not FAN OUT the candidate join and double-count votes.
    Deterministic pick (min name_hash); the variants differ only in which
    name tokens were subtracted — negligible for neighborhood voting."""
    if "name_hash" not in vectors.columns:
        return vectors
    w = F.row_number().over(
        Window.partitionBy("text_hash").orderBy(F.asc_nulls_last("name_hash"))
    )
    return (
        vectors.withColumn("_rk", w)
        .where(F.col("_rk") == 1)
        .select("text_hash", "vector")
    )


def impute_attribute(
    records: DataFrame,
    vectors: DataFrame,
    attr_table: DataFrame,
    blocks: DataFrame,
    attr_col: str = "attr",
    min_similarity: float = 0.3,
    top_k: int = 3,
    donor_top_k: int | None = None,
) -> DataFrame:
    """Fill missing attributes.

    Inputs:
      records     (conv_id, text_hash, ...)           — all records
      vectors     (text_hash, vector)                 — hashed-TF vectors
      attr_table  (conv_id, attr)                     — known values (sparse)
      blocks      (conv_id, block_key)                — blocking keys (reuse
                  the pipeline's — the similarity join must not be O(n^2))
    Output: (conv_id, attr, score, rank) — top-k imputed values per record
    that lacks one, score = sum of neighbor cosines (weighted vote,
    reference's np.average(vectors, weights=similarities)).

    ``donor_top_k`` restricts the vote to each record's K most-similar
    donors before aggregating — the reference's KNN shape (subject vectors
    come from the K nearest composites returned by the vector store, not
    every candidate above a floor; /root/reference/src/subject_imputation.py
    :298-341). None keeps the all-qualifying-donors vote. The rank window
    partitions by the missing record, whose neighbor list is already bounded
    by blocking + the similarity floor — no skew concern at scale.
    """
    vectors = _one_vector_per_text(vectors)
    # keep only the contract columns: split_hot_blocks may carry its pair-
    # subsumption stamp, which the impute candidate join must not duplicate
    blocks = blocks.select("conv_id", "block_key")
    have = attr_table.where(F.col(attr_col).isNotNull())
    missing = records.join(have.select("conv_id"), "conv_id", "left_anti").select(
        "conv_id", "text_hash"
    )
    donors = records.join(have, "conv_id").select(
        F.col("conv_id").alias("donor_id"),
        F.col("text_hash").alias("donor_hash"),
        F.col(attr_col),
    )
    # candidate (missing, donor) pairs via shared blocks
    mb = blocks.withColumnRenamed("conv_id", "m_id")
    db = blocks.withColumnRenamed("conv_id", "donor_id")
    cand = (
        missing.withColumnRenamed("conv_id", "m_id")
        .join(mb, "m_id")
        .join(db, "block_key")
        .where(F.col("m_id") != F.col("donor_id"))
        .select("m_id", "text_hash", "donor_id")
        .dropDuplicates(["m_id", "donor_id"])
    )
    vl = vectors.select(F.col("text_hash"), F.col("vector").alias("m_vec"))
    vr = vectors.select(
        F.col("text_hash").alias("donor_hash"), F.col("vector").alias("d_vec")
    )
    scored = (
        cand.join(donors, "donor_id")
        .join(vl, "text_hash")
        .join(vr, "donor_hash")
        .select(
            "m_id",
            "donor_id",
            attr_col,
            sparse_cosine_expr(F.col("m_vec"), F.col("d_vec")).alias("sim"),
        )
        .where(F.col("sim") >= min_similarity)
    )
    if donor_top_k is not None:
        dw = Window.partitionBy("m_id").orderBy(F.desc("sim"), F.asc("donor_id"))
        scored = (
            scored.withColumn("_dr", F.row_number().over(dw))
            .where(F.col("_dr") <= donor_top_k)
            .drop("_dr")
        )
    votes = scored.groupBy("m_id", attr_col).agg(
        F.sum("sim").alias("score"), F.count(F.lit(1)).alias("n_donors")
    )
    w = Window.partitionBy("m_id").orderBy(F.desc("score"), F.asc(attr_col))
    return (
        votes.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(F.col("m_id").alias("conv_id"), attr_col, "score", "n_donors", "rank")
    )


def audit_attribute(
    records: DataFrame,
    vectors: DataFrame,
    attr_table: DataFrame,
    blocks: DataFrame,
    attr_col: str = "attr",
    min_similarity: float = 0.3,
    min_margin: float = 2.0,
    min_donors: int = 2,
) -> DataFrame:
    """Flag EXISTING attribute values that conflict with the neighborhood
    vote — the other half of the reference's subject pipeline: where
    ``impute_attribute`` fills missing values, this audits present ones
    (/root/reference/src/subject_quality.py:209-296 evaluates each record's
    current subjects against the weighted centroid of vector-similar records
    and flags low-quality ones for remediation).

    Same compute shape as imputation (blocked similarity join -> cosine-
    weighted vote), same inputs. A record is flagged when the top-voted
    alternative value beats the vote for its CURRENT value by
    ``min_margin`` x with at least ``min_donors`` supporting neighbors.

    Output: (conv_id, current, suggested, suggested_score, current_score,
    n_donors) — flagged rows only.
    """
    vectors = _one_vector_per_text(vectors)
    # keep only the contract columns: split_hot_blocks may carry its pair-
    # subsumption stamp, which the impute candidate join must not duplicate
    blocks = blocks.select("conv_id", "block_key")
    have = attr_table.where(F.col(attr_col).isNotNull()).select(
        F.col("conv_id"), F.col(attr_col).alias("current")
    )
    subjects = records.join(have, "conv_id").select("conv_id", "text_hash", "current")
    donors = records.join(
        attr_table.where(F.col(attr_col).isNotNull()), "conv_id"
    ).select(
        F.col("conv_id").alias("donor_id"),
        F.col("text_hash").alias("donor_hash"),
        F.col(attr_col),
    )
    sb = blocks.withColumnRenamed("conv_id", "s_id")
    db = blocks.withColumnRenamed("conv_id", "donor_id")
    cand = (
        subjects.withColumnRenamed("conv_id", "s_id")
        .join(sb, "s_id")
        .join(db, "block_key")
        .where(F.col("s_id") != F.col("donor_id"))
        .select("s_id", "text_hash", "current", "donor_id")
        .dropDuplicates(["s_id", "donor_id"])
    )
    vl = vectors.select(F.col("text_hash"), F.col("vector").alias("s_vec"))
    vr = vectors.select(
        F.col("text_hash").alias("donor_hash"), F.col("vector").alias("d_vec")
    )
    scored = (
        cand.join(donors, "donor_id")
        .join(vl, "text_hash")
        .join(vr, "donor_hash")
        .select(
            "s_id",
            "current",
            attr_col,
            sparse_cosine_expr(F.col("s_vec"), F.col("d_vec")).alias("sim"),
        )
        .where(F.col("sim") >= min_similarity)
    )
    votes = scored.groupBy("s_id", "current", attr_col).agg(
        F.sum("sim").alias("score"), F.count(F.lit(1)).alias("n_donors")
    )
    w = Window.partitionBy("s_id").orderBy(F.desc("score"), F.asc(attr_col))
    top = votes.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
    own = votes.where(F.col(attr_col) == F.col("current")).select(
        "s_id", F.col("score").alias("current_score")
    )
    flagged = (
        top.join(own, "s_id", "left")
        .withColumn("current_score", F.coalesce("current_score", F.lit(0.0)))
        .where(
            (F.col(attr_col) != F.col("current"))
            & (F.col("n_donors") >= min_donors)
            & (F.col("score") >= F.lit(min_margin) * F.col("current_score"))
        )
    )
    return flagged.select(
        F.col("s_id").alias("conv_id"),
        "current",
        F.col(attr_col).alias("suggested"),
        F.col("score").alias("suggested_score"),
        "current_score",
        "n_donors",
    )
