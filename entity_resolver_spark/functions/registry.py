"""Feature registry + config-driven custom features (the reference's
extension surface).

Reference parity:
* ``register_feature(name, fn)`` / ``substitute_features``
  (/root/reference/src/feature_engineering.py:354-397) — here a registry of
  Column *builders*: each feature is a function (left_prefix, right_prefix,
  params) -> Column, so "registering a feature" composes declaratively into
  the single feature ``select`` instead of adding a Python callback to a
  per-pair loop.
* Config-driven custom feature types (/root/reference/src/custom_features.py:
  15-614, config.yml:373-391): ``field_match`` (exact equality),
  ``field_levenshtein``, ``weighted_field_similarity``, and
  ``composite_feature`` combining registered components with
  add/multiply/max/min.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from entity_resolver_spark.functions.similarity import (
    jaro_winkler_pudf,
    levenshtein_sim_expr,
)

# builder signature: (l: str prefix, r: str prefix, params: dict) -> Column
FeatureBuilder = Callable[[str, str, dict], Column]

_REGISTRY: dict[str, FeatureBuilder] = {}


def register_feature(name: str, builder: FeatureBuilder) -> None:
    """Register (or override — the reference's substitute_features) a
    feature builder under ``name``."""
    _REGISTRY[name] = builder


def get_feature(name: str) -> FeatureBuilder:
    return _REGISTRY[name]


def build_features(
    specs: list[dict], l_prefix: str = "l_", r_prefix: str = "r_"
) -> list[Column]:
    """Materialize a config list [{name, type, params...}] into aliased
    Columns for one select (the reference iterates its registry the same
    way, feature_engineering.py:1762-1820)."""
    cols = []
    for spec in specs:
        builder = get_feature(spec["type"])
        cols.append(builder(l_prefix, r_prefix, spec).alias(spec["name"]))
    return cols


# -- built-in feature types (custom_features.py parity) ---------------------

def _field_match(l: str, r: str, p: dict) -> Column:
    f = p["field"]
    return (F.col(f"{l}{f}") == F.col(f"{r}{f}")).cast("double")


def _field_levenshtein(l: str, r: str, p: dict) -> Column:
    f = p["field"]
    return levenshtein_sim_expr(F.col(f"{l}{f}"), F.col(f"{r}{f}"))


def _field_jaro_winkler(l: str, r: str, p: dict) -> Column:
    f = p["field"]
    return jaro_winkler_pudf(F.col(f"{l}{f}"), F.col(f"{r}{f}"))


def _weighted_field_similarity(l: str, r: str, p: dict) -> Column:
    """Weighted sum of per-field similarities (custom_features.py
    weighted_field_similarity)."""
    total = None
    wsum = 0.0
    for field, weight in p["fields"].items():
        sim = levenshtein_sim_expr(F.col(f"{l}{field}"), F.col(f"{r}{field}"))
        term = sim * F.lit(float(weight))
        total = term if total is None else total + term
        wsum += float(weight)
    return total / F.lit(wsum)


def _field_low_indicator(l: str, r: str, p: dict) -> Column:
    """Binary low-similarity indicator: 1.0 iff the chosen metric on a field
    pair falls below ``threshold`` — the reference's X7
    person_low_{levenshtein,jaro_winkler,cosine}_indicator family
    (src/feature_engineering.py:841-883,951-1070; thresholds
    config.yml:303-309: levenshtein 0.60, jaro_winkler 0.90, cosine 0.80).
    params: field, metric ('levenshtein'|'jaro_winkler'), threshold."""
    f = p["field"]
    metric = p.get("metric", "levenshtein")
    a, b = F.col(f"{l}{f}"), F.col(f"{r}{f}")
    if metric == "levenshtein":
        sim = levenshtein_sim_expr(a, b)
    elif metric == "jaro_winkler":
        sim = jaro_winkler_pudf(a, b)
    else:
        raise ValueError(f"unknown low-indicator metric: {metric}")
    return (sim < F.lit(float(p["threshold"]))).cast("double")


def _field_matrix(l: str, r: str, p: dict) -> Column:
    """Compatibility-matrix lookup on a categorical field pair — the analogue
    of the reference's role-compatibility matrix (X9: title_role_adjusted,
    src/feature_engineering.py:1329-1389; matrix at config.yml:347-371).

    params: field, matrix {left_value: {right_value: score}},
    default (unlisted pair), symmetric (default True — the reference's matrix
    is given one-directional and applied both ways). Compose with
    ``composite_feature`` multiply to weight a similarity by compatibility,
    exactly the reference's ``title_cosine * role_score`` shape.
    """
    f = p["field"]
    a, b = F.col(f"{l}{f}"), F.col(f"{r}{f}")
    symmetric = p.get("symmetric", True)
    expr = None
    for va, row in p["matrix"].items():
        for vb, score in row.items():
            cond = (a == va) & (b == vb)
            if symmetric and va != vb:
                cond = cond | ((a == vb) & (b == va))
            expr = (
                F.when(cond, F.lit(float(score)))
                if expr is None
                else expr.when(cond, F.lit(float(score)))
            )
    default = F.lit(float(p.get("default", 0.5)))
    return default if expr is None else expr.otherwise(default)


def _composite(l: str, r: str, p: dict) -> Column:
    """Combine component feature specs with add/multiply/max/min
    (custom_features.py composite_feature)."""
    parts = [get_feature(c["type"])(l, r, c) for c in p["components"]]
    op = p.get("operation", "add")
    if op == "add":
        out = parts[0]
        for c in parts[1:]:
            out = out + c
        return out / F.lit(float(len(parts)))
    if op == "multiply":
        out = parts[0]
        for c in parts[1:]:
            out = out * c
        return out
    if op == "max":
        return F.greatest(*parts) if len(parts) > 1 else parts[0]
    if op == "min":
        return F.least(*parts) if len(parts) > 1 else parts[0]
    raise ValueError(f"unknown composite operation: {op}")


register_feature("field_match", _field_match)
register_feature("field_levenshtein", _field_levenshtein)
register_feature("field_jaro_winkler", _field_jaro_winkler)
register_feature("weighted_field_similarity", _weighted_field_similarity)
register_feature("field_low_indicator", _field_low_indicator)
register_feature("field_matrix", _field_matrix)
register_feature("composite_feature", _composite)
