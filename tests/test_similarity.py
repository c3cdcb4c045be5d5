"""Similarity primitives vs pure-Python / DuckDB oracles."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from entity_resolver_spark.functions.similarity import (
    cosine_expr,
    jaro_winkler,
    jaro_winkler_pudf,
    levenshtein_sim_expr,
)

PAIRS = [
    ("martha", "marhta"),
    ("dixon", "dicksonx"),
    ("jellyfish", "smellyfish"),
    ("schubert franz", "schubert franz 1797 1828"),
    ("abc", "abc"),
    ("", "abc"),
    ("a", ""),
    ("kitten", "sitting"),
]


def test_jaro_winkler_matches_duckdb():
    for a, b in PAIRS:
        ours = jaro_winkler(a, b)
        ref = duckdb.sql(
            "select jaro_winkler_similarity(?, ?)", params=[a, b]
        ).fetchone()[0]
        assert ours == pytest.approx(ref, abs=1e-9), (a, b)


def test_jaro_winkler_pudf(spark):
    df = spark.createDataFrame(PAIRS, ["a", "b"])
    rows = df.select("a", "b", jaro_winkler_pudf("a", "b").alias("jw")).collect()
    for r in rows:
        assert r["jw"] == pytest.approx(jaro_winkler(r["a"], r["b"]), abs=1e-12)


def test_levenshtein_sim(spark):
    df = spark.createDataFrame(PAIRS, ["a", "b"])
    rows = df.select("a", "b", levenshtein_sim_expr(F.col("a"), F.col("b")).alias("s")).collect()
    for r in rows:
        a, b = r["a"], r["b"]
        if max(len(a), len(b)) == 0:
            expected = 1.0
        else:
            ref = duckdb.sql("select levenshtein(?, ?)", params=[a, b]).fetchone()[0]
            expected = 1.0 - ref / max(len(a), len(b))
        assert r["s"] == pytest.approx(expected, abs=1e-12)


def test_cosine_expr_matches_numpy(spark):
    rng = np.random.RandomState(42)
    data = [
        (rng.rand(16).tolist(), rng.rand(16).tolist()) for _ in range(20)
    ] + [([0.0] * 16, [0.0] * 16), ([1.0] + [0.0] * 15, [0.0] * 16)]
    df = spark.createDataFrame(data, "a array<double>, b array<double>")
    rows = df.select(
        "a", "b",
        cosine_expr(F.col("a"), F.col("b")).alias("native"),
    ).collect()
    for r in rows:
        a, b = np.array(r["a"]), np.array(r["b"])
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        if na < 1e-10 and nb < 1e-10:
            expected = 1.0
        elif na < 1e-10 or nb < 1e-10:
            expected = 0.0
        else:
            expected = min(max(float(a @ b) / (na * nb), 0.0), 1.0)
        assert r["native"] == pytest.approx(expected, abs=1e-9)


def test_jaro_winkler_pudf_nul_bytes(spark):
    """Pair factorization must key on the (a, b) TUPLE: strings containing
    NUL must not alias ("a\\x00b","c") with ("a","b\\x00c")."""
    import pandas as pd

    from entity_resolver_spark.functions.similarity import (
        jaro_winkler_batch,
        jaro_winkler_pudf,
    )

    pdf = pd.DataFrame(
        {"a": ["a\x00b", "a", "x"], "b": ["c", "b\x00c", "x"]}
    )
    df = spark.createDataFrame(pdf)
    got = (
        df.select("a", "b", jaro_winkler_pudf("a", "b").alias("jw"))
        .toPandas()
        .sort_values(["a", "b"])
    )
    import numpy as np

    exp = jaro_winkler_batch(
        got["a"].to_numpy(), got["b"].to_numpy()
    )
    assert np.allclose(got["jw"].to_numpy(), exp)
