"""Stage 4 — logistic-regression training + broadcast scoring expression.

Training mirrors the reference's ``EntityClassifier.fit``
(/root/reference/src/training.py:77-369): gradient descent with L2 (λ 0.01),
class weighting 5:1 favoring positives, fixed seed, early stopping — but runs
in-driver on numpy: the labeled-pair feature matrix is small (the reference's
own eval set is ~15k pairs), so distributing the fit buys nothing. What IS
distributed is inference: the fitted (weights, bias) become literals in a
native sigmoid scoring expression — the north_rule's "broadcast
logistic-regression scorer". No model object, no UDF, whole-stage codegen.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_resolver_spark import config as C


@dataclass
class Model:
    weights: dict[str, float]
    bias: float
    threshold: float = C.DECISION_THRESHOLD
    edge_threshold: float = C.MIN_EDGE_CONFIDENCE
    metrics: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "weights": self.weights,
                "bias": self.bias,
                "threshold": self.threshold,
                "edge_threshold": self.edge_threshold,
                "metrics": self.metrics,
            },
            indent=2,
        )

    @classmethod
    def from_json(cls, s: str) -> "Model":
        d = json.loads(s)
        return cls(
            d["weights"],
            d["bias"],
            d["threshold"],
            d.get("edge_threshold", C.MIN_EDGE_CONFIDENCE),
            d.get("metrics", {}),
        )

    @classmethod
    def default(cls) -> "Model":
        return cls(
            dict(C.DEFAULT_WEIGHTS),
            C.DEFAULT_BIAS,
            C.DECISION_THRESHOLD,
            C.DEFAULT_EDGE_THRESHOLD,
        )


def fit_logistic(
    X: np.ndarray,
    y: np.ndarray,
    lr: float = C.LR_LEARNING_RATE,
    l2: float = C.LR_L2,
    max_iter: int = C.LR_MAX_ITER,
    pos_weight: float = C.LR_CLASS_WEIGHT_POS,
    patience: int = C.LR_PATIENCE,
    seed: int = C.SEED,
) -> tuple[np.ndarray, float]:
    """Full-batch GD logistic regression (numpy). Deterministic."""
    rng = np.random.RandomState(seed)
    n, d = X.shape
    w = rng.normal(0, 0.01, d)
    b = 0.0
    sw = np.where(y > 0.5, pos_weight, 1.0)
    sw = sw / sw.mean()
    best_loss, best = np.inf, (w.copy(), b)
    stall = 0
    for _ in range(max_iter):
        z = np.clip(X @ w + b, -30, 30)
        p = 1.0 / (1.0 + np.exp(-z))
        g_w = (X.T @ ((p - y) * sw)) / n + l2 * w
        g_b = float(np.mean((p - y) * sw))
        w -= lr * g_w
        b -= lr * g_b
        loss = float(
            -np.mean(sw * (y * np.log(p + 1e-12) + (1 - y) * np.log(1 - p + 1e-12)))
            + 0.5 * l2 * float(w @ w)
        )
        if loss < best_loss - 1e-7:
            best_loss, best, stall = loss, (w.copy(), b), 0
        else:
            stall += 1
            if stall >= patience:
                break
    return best


def sweep_threshold(p: np.ndarray, y: np.ndarray) -> tuple[float, float]:
    """F1-maximizing threshold over a fixed grid (reference
    ``optimize_threshold``, src/training.py:699-744), CENTERED in the
    maximizing interval: the reference takes the first (lowest) grid point
    achieving max F1, which on a separable validation set returns the grid
    step just above the highest validation negative — zero margin, so a
    train-split junk pair scoring one step higher flips to a false match.
    Among the grid points tied at max F1 (the tie set is the separating
    margin when F1 hits 1.0) take the middle one; a single-point maximum
    behaves exactly as before."""
    f1s: list[tuple[float, float]] = []
    for t in np.arange(0.05, 0.96, 0.01):
        pred = p >= t
        tp = int(np.sum(pred & (y > 0.5)))
        fp = int(np.sum(pred & (y <= 0.5)))
        fn = int(np.sum(~pred & (y > 0.5)))
        f1 = 2 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 0.0
        f1s.append((float(t), f1))
    best_f1 = max(f1 for _, f1 in f1s)
    if best_f1 <= 0.0:
        return C.DECISION_THRESHOLD, best_f1
    ties = [t for t, f1 in f1s if f1 >= best_f1 - 1e-12]
    return ties[len(ties) // 2], best_f1


def train(features: DataFrame, labeled: DataFrame) -> Model:
    """Join labeled pairs to their feature rows, collect (small), fit, sweep.

    The stratified split discipline (seed 42, reference src/training.py:
    1203-1218) is applied on the collected matrix.
    """
    cols = C.FEATURE_COLS
    truths = labeled.select(
        F.least("left", "right").alias("left"),
        F.greatest("left", "right").alias("right"),
        F.col("match").cast("double").alias("label"),
    )
    rows = (
        features.join(truths, ["left", "right"])
        .select("left", "right", *cols, "label")
        .toPandas()
    )
    # Sort by pair key BEFORE the seeded split: toPandas() row order follows
    # join/AQE partitioning, so a positional split over the raw order makes
    # split membership (and therefore the fitted weights) depend on
    # spark.sql.shuffle.partitions. Content-keyed order makes the same corpus
    # always produce the same model (reference src/training.py:1203-1218
    # splits a stable CSV-ordered matrix).
    rows = rows.sort_values(["left", "right"], ignore_index=True)
    X = rows[cols].to_numpy(dtype=np.float64)
    y = rows["label"].to_numpy(dtype=np.float64)
    # STRATIFIED 70/30 split (reference src/training.py:1203-1218): shuffle
    # positives and negatives independently, take 70% of each — on a skewed
    # label set an unstratified split can starve the validation negatives
    # that calibrate edge_threshold.
    rng = np.random.RandomState(C.SEED)
    tr_parts, va_parts = [], []
    for cls in (0.0, 1.0):
        cls_idx = np.flatnonzero((y > 0.5) == (cls > 0.5))
        cls_idx = cls_idx[rng.permutation(len(cls_idx))]
        n_tr_c = int(len(cls_idx) * 0.7)
        tr_parts.append(cls_idx[:n_tr_c])
        va_parts.append(cls_idx[n_tr_c:])
    tr = np.concatenate(tr_parts)
    va = np.concatenate(va_parts)
    w, b = fit_logistic(X[tr], y[tr])
    p_va = 1.0 / (1.0 + np.exp(-np.clip(X[va] @ w + b, -30, 30)))
    t, f1_va = sweep_threshold(p_va, y[va])
    # Edge threshold for clustering: strictly above the match threshold —
    # transitive closure amplifies every false-positive edge into a cluster
    # merge (the reference clusters at 0.65 vs matching at 0.56,
    # config.yml:234/253 — a +0.09 safety band). Set it from the 99.5th
    # percentile of the NEGATIVE validation scores (an interpolated quantile
    # — one noisy pair shifts it marginally, where the previous
    # first-zero-FP scan jumped a full grid step on a single outlier),
    # floored at t+0.1 and capped at 0.95.
    neg = p_va[y[va] <= 0.5]
    q = float(np.quantile(neg, 0.995)) + 0.01 if len(neg) >= 20 else 0.0
    edge_t = float(min(max(t + 0.1, q), 0.95))
    p_all = 1.0 / (1.0 + np.exp(-np.clip(X @ w + b, -30, 30)))
    pred = p_all >= t
    tp = int(np.sum(pred & (y > 0.5)))
    fp = int(np.sum(pred & (y <= 0.5)))
    fn = int(np.sum(~pred & (y > 0.5)))
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return Model(
        weights={c: float(wi) for c, wi in zip(cols, w)},
        bias=float(b),
        threshold=t,
        edge_threshold=edge_t,
        metrics={
            "n_pairs": int(len(y)),
            "val_f1": f1_va,
            "precision": prec,
            "recall": rec,
            "f1": f1,
        },
    )


def score_expr(model: Model, cols: list[str] | None = None) -> Column:
    """sigma(X.w + b) as a native column expression over feature columns.

    This is the reference's predict_proba (src/training.py:371-497) with the
    model baked in as literals — the classifier ships inside the plan.
    """
    cols = cols or list(model.weights)
    z = F.lit(model.bias)
    for c in cols:
        z = z + F.col(c) * F.lit(model.weights[c])
    z = F.least(F.greatest(z, F.lit(-30.0)), F.lit(30.0))
    return 1.0 / (1.0 + F.exp(-z))


def score_pairs(features: DataFrame, model: Model | None = None) -> DataFrame:
    """features -> (left, right, proba, is_match)."""
    model = model or Model.default()
    return features.select(
        "left",
        "right",
        score_expr(model).alias("proba"),
    ).withColumn("is_match", F.col("proba") >= F.lit(model.threshold))


def _retrain_defaults() -> None:  # pragma: no cover — dev utility
    """Refit DEFAULT_WEIGHTS on the datagen corpus and print the constants.

    SPARK_GRAFT_RETRAIN_ENTITIES sizes the corpus (default 3000, bench shape):
    the confounder count scales with it, so the threshold sweep sees a
    realistic hard-negative mass — the 300-entity fit of earlier rounds
    under-sampled confounders and placed the operating point too low."""
    import os

    from entity_resolver_spark import datagen
    from entity_resolver_spark.config import EngineConfig
    from entity_resolver_spark.operators.features import (
        features_from_inputs,
        text_vectors,
    )
    from entity_resolver_spark.operators.transcripts import build_entity_records
    from entity_resolver_spark.plans.pipeline import stage_pair_inputs, stage_pairs
    from entity_resolver_spark.session import get_spark

    spark = get_spark("retrain-defaults")
    n = int(os.environ.get("SPARK_GRAFT_RETRAIN_ENTITIES", "3000"))
    data = datagen.generate(
        n_entities=n, convs_per_entity=(2, 5), turns_per_conv=(3, 12), seed=C.SEED
    )
    transcripts = datagen.to_spark(spark, data["transcripts"])
    labeled = spark.createDataFrame(data["labeled_pairs"])
    records = build_entity_records(transcripts).localCheckpoint()
    cfg = EngineConfig()
    pairs = stage_pairs(records, cfg)[0]
    inputs = stage_pair_inputs(pairs, records, text_vectors(records), cfg)
    model = train(features_from_inputs(inputs), labeled)
    print(model.to_json())


if __name__ == "__main__":  # pragma: no cover
    _retrain_defaults()
