"""Normalize stage: per-turn text equality invariant, name keys, year regexes."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_resolver_spark.functions.normalize import normalize_expr, normalize_nfkd
from entity_resolver_spark.functions.years import (
    birth_year_expr,
    death_year_expr,
)
from entity_resolver_spark.operators.transcripts import (
    build_entity_records,
    turn_equality_check,
)


def test_turn_equality_invariant(spark, transcripts, records):
    """full_text must re-split into exactly the source turns under stable
    (conv_id, turn_idx) ordering — the input rows arrive shuffled."""
    assert turn_equality_check(transcripts, records).count() == 0


def test_record_count_matches_conversations(transcripts, records):
    assert records.count() == transcripts.select("conv_id").distinct().count()


def test_normalize_expr(spark):
    df = spark.createDataFrame(
        [("  Hello,   WORLD!! ",), ("a.b-c_d",), ("", ), (None,)], ["s"]
    )
    out = [r[0] for r in df.select(normalize_expr("s")).collect()]
    assert out[0] == "hello world"
    assert out[1] == "a b c_d"
    assert out[2] == ""
    assert out[3] is None


def test_normalize_nfkd_folds_diacritics(spark):
    df = spark.createDataFrame([("Schübert, Fränz",), ("naïve café",)], ["s"])
    out = [r[0] for r in df.select(normalize_nfkd("s")).collect()]
    assert out == ["schubert franz", "naive cafe"]


def test_year_extraction(spark):
    cases = [
        ("Schubert, Franz, 1797-1828", 1797, 1828),
        ("Brahms, Johannes (1833-1897)", 1833, 1897),
        ("Curie, Marie, b. 1867", 1867, None),
        ("Noether, Emmy, born 1882", 1882, None),
        ("Turing, Alan, d. 1954", None, 1954),
        ("Euler, ca. 1707-1783", 1707, 1783),
        ("Gauss, circa 1777", 1777, None),
        ("No years here", None, None),
        # reference-cascade forms (src/birth_death_regexes.py:28-73):
        ("Hypatia, 1797—1828", 1797, 1828),          # em-dash range
        ("Abel, 565-approximately 665", 565, 665),    # approx death in range
        ("Galois, b. ca. 1811", 1811, None),          # approx after birth mark
        ("Jacobi, died circa 1851", None, 1851),      # approx after death mark
        ("Cantor, 1845?-1918", 1845, 1918),           # uncertain birth year
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], ["s"])
    rows = df.select(
        birth_year_expr("s").alias("b"), death_year_expr("s").alias("d")
    ).collect()
    for (s, eb, ed), r in zip(cases, rows):
        assert r["b"] == eb, f"{s}: birth {r['b']} != {eb}"
        assert r["d"] == ed, f"{s}: death {r['d']} != {ed}"


def test_name_key_strips_dates_and_diacritics(spark):
    rows = [
        ("c1", 0, "user", "Schubert, Franz, 1797-1828. lorem ipsum", None, None),
        ("c2", 0, "user", "Schübert, Franz. more text here", None, None),
        ("c3", 0, "user", "Schubert, Franz, b. 1797. body follows", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    recs = build_entity_records(df)
    keys = {r["conv_id"]: r["name_key"] for r in recs.select("conv_id", "name_key").collect()}
    assert keys["c1"] == "schubert franz"
    assert keys["c2"] == "schubert franz"
    assert keys["c3"] == "schubert franz"
    years = {
        r["conv_id"]: (r["birth_year"], r["death_year"])
        for r in recs.select("conv_id", "birth_year", "death_year").collect()
    }
    assert years["c1"] == (1797, 1828)
    assert years["c3"] == (1797, None)


def test_input_order_independence(spark, corpus):
    """Records built from a differently-ordered input are identical."""
    from entity_resolver_spark import datagen as dg

    pdf = corpus["transcripts"].sort_values(["text", "conv_id"]).reset_index(drop=True)
    recs1 = build_entity_records(dg.to_spark(spark, corpus["transcripts"]))
    recs2 = build_entity_records(dg.to_spark(spark, pdf))
    a = recs1.select("conv_id", "full_text", "name_key").orderBy("conv_id").collect()
    b = recs2.select("conv_id", "full_text", "name_key").orderBy("conv_id").collect()
    assert a == b


def test_downstream_runs_on_working_set_projection(spark, records, labeled):
    """The text columns are write-only after the normalize stage: blocking ->
    vectors -> pair features -> scoring -> clustering must produce IDENTICAL
    results over records with full_text / norm_text / first_turn / name_raw
    dropped. bench.py and the parquet pipeline's column-pruned stage reads
    both rely on this contract — if a downstream operator grows a dependency
    on a text column, this test fails before the bench does."""
    from entity_resolver_spark.config import EngineConfig
    from entity_resolver_spark.operators.clustering import cluster_records
    from entity_resolver_spark.operators.features import (
        features_from_inputs,
        pair_inputs,
        text_vectors,
    )
    from entity_resolver_spark.operators.scoring import Model, score_pairs
    from entity_resolver_spark.plans.pipeline import stage_pairs

    model = Model.default()

    def clusters_over(recs):
        pairs = stage_pairs(recs, EngineConfig())[0]
        vecs = text_vectors(recs)
        scored = score_pairs(
            features_from_inputs(pair_inputs(pairs, recs, vectors=vecs)), model
        )
        out = cluster_records(recs, scored, model.edge_threshold)
        return sorted(
            (r["conv_id"], r["cluster_id"])
            for r in out.select("conv_id", "cluster_id").collect()
        )

    pruned = records.drop("full_text", "norm_text", "first_turn", "name_raw")
    assert clusters_over(pruned) == clusters_over(records)
