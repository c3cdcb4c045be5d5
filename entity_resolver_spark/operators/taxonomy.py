"""Taxonomy dissimilarity feature (reference X5/J9).

Reference parity: /root/reference/src/taxonomy_feature.py:204-313 — each
entity maps to a set of taxonomy categories; the pair feature is the MINIMUM
dissimilarity over the category cross product with fixed scores:

    same category            0.0
    siblings (same parent)   0.3
    parent-child             0.4
    different parents        0.8
    unknown category         0.9
    entity unmapped          0.5  (neutral)

plus the child-over-parent pruning rule (drop a parent category when one of
its children is present, src/taxonomy_feature.py:151-169).

For transcripts the category source is the conversation's TOOLS (the
reference derives categories from SetFit subject classification; tools are
the analogue signal transcripts actually carry). The taxonomy itself is a
plain parent map; scoring is a native expression over exploded category
arrays with the taxonomy broadcast as literals — no UDFs, no driver lookups.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Default tool taxonomy: child -> parent. Mirrors the reference's
# parent/child category tree shape (taxonomy loaded from SKOS yaml at
# src/taxonomy_feature.py:61-120); contents are transcript-domain.
DEFAULT_TAXONOMY: dict[str, str] = {
    "search_catalog": "retrieval",
    "fetch_record": "retrieval",
    "lookup_authority": "reference",
    "cite_source": "reference",
    "run_query": "compute",
    "exec_code": "compute",
}

SCORE_SAME = 0.0
SCORE_SIBLING = 0.3
SCORE_PARENT_CHILD = 0.4
SCORE_DIFFERENT = 0.8
SCORE_UNKNOWN = 0.9
SCORE_UNMAPPED = 0.5


def prune_parents(cats: Column, taxonomy: dict[str, str]) -> Column:
    """Drop a parent category when one of its children is present
    (src/taxonomy_feature.py:151-169)."""
    parent_entries = [
        F.struct(F.lit(c).alias("child"), F.lit(p).alias("parent"))
        for c, p in taxonomy.items()
    ]
    pairs_arr = F.array(*parent_entries)
    child_parents = F.transform(
        F.filter(pairs_arr, lambda e: F.array_contains(cats, e["child"])),
        lambda e: e["parent"],
    )
    return F.array_except(cats, child_parents)


def _pair_score(a: Column, b: Column, taxonomy: dict[str, str]) -> Column:
    """Dissimilarity of two single categories, as a when-chain over the
    broadcast taxonomy literals."""
    def parent_of(c: Column) -> Column:
        expr = F.lit(None).cast("string")
        for child, parent in taxonomy.items():
            expr = F.when(c == child, F.lit(parent)).otherwise(expr)
        return expr

    known = F.array(*[F.lit(k) for k in {*taxonomy, *taxonomy.values()}])
    pa, pb = parent_of(a), parent_of(b)
    # Equality FIRST: two identical categories score 0.0 even when neither is
    # in the taxonomy (reference checks same-category before unknown,
    # src/taxonomy_feature.py:228 — conversations sharing the same unmapped
    # tool are maximally similar, not maximally dissimilar).
    return (
        F.when(a == b, F.lit(SCORE_SAME))
        .when(~F.array_contains(known, a) | ~F.array_contains(known, b),
              F.lit(SCORE_UNKNOWN))
        .when(pa.isNotNull() & (pa == pb), F.lit(SCORE_SIBLING))
        .when((pa == b) | (pb == a), F.lit(SCORE_PARENT_CHILD))
        .otherwise(F.lit(SCORE_DIFFERENT))
    )


def taxonomy_dissimilarity_expr(
    cats_l: Column, cats_r: Column, taxonomy: dict[str, str] | None = None
) -> Column:
    """Min over the category cross product; 0.5 when either side unmapped."""
    taxonomy = taxonomy or DEFAULT_TAXONOMY
    l = prune_parents(cats_l, taxonomy)
    r = prune_parents(cats_r, taxonomy)
    cross = F.flatten(
        F.transform(l, lambda a: F.transform(r, lambda b: _pair_score(a, b, taxonomy)))
    )
    return (
        F.when(
            cats_l.isNull() | cats_r.isNull() | (F.size(cats_l) == 0) | (F.size(cats_r) == 0),
            F.lit(SCORE_UNMAPPED),
        )
        .otherwise(F.array_min(cross))
    )
