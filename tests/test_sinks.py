"""Output sinks: matches CSV, detailed TSV, clusters JSON; the Warehouse
stage-table commits and their lineage / metrics bookkeeping."""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from entity_resolver_spark.sources.sinks import (
    write_clusters_json,
    write_detailed_matches_tsv,
    write_matches_csv,
)


def test_sinks_roundtrip(spark, tmp_path):
    scored = spark.createDataFrame(
        [("a", "b", 0.912345678, True), ("c", "d", 0.4, False)],
        ["left", "right", "proba", "is_match"],
    )
    feats = spark.createDataFrame(
        [("a", "b", 0.9), ("c", "d", 0.1)], ["left", "right", "name_jw"]
    )
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], ["conv_id", "cluster_id"]
    )

    mpath = str(tmp_path / "matches")
    write_matches_csv(scored, mpath, single_file=True)
    rows = spark.read.option("header", True).csv(mpath).collect()
    assert len(rows) == 1
    assert rows[0]["entity_id1"] == "a" and rows[0]["entity_id2"] == "b"
    assert abs(float(rows[0]["confidence"]) - 0.912346) < 1e-9

    tpath = str(tmp_path / "detailed")
    write_detailed_matches_tsv(scored, feats, tpath, single_file=True)
    trows = spark.read.option("header", True).option("sep", "\t").csv(tpath).collect()
    assert len(trows) == 2 and "name_jw" in trows[0].asDict()

    jpath = str(tmp_path / "clusters")
    write_clusters_json(clusters, jpath, single_file=True)
    part = [f for f in os.listdir(jpath) if f.startswith("part-")][0]
    lines = [json.loads(l) for l in open(os.path.join(jpath, part))]
    by_id = {l["cluster_id"]: l for l in lines}
    assert by_id["a"]["members"] == ["a", "b"] and by_id["a"]["size"] == 2


def test_warehouse_catalog_mode_via_jdbc_v2(spark, tmp_path):
    """Catalog-mode Warehouse commits, executed for real (not jar-gated).

    The Iceberg branch of ``Warehouse`` calls only generic V2-catalog API —
    ``writeTo().create()/createOrReplace()/append()``, ``read.table``,
    ``tableExists``, ``DROP TABLE`` — so Spark's built-in
    ``JDBCTableCatalog`` over the bundled embedded Derby drives every line
    of that branch without the Iceberg runtime jar. What this cannot attest
    is Iceberg's own snapshot format; what it does attest is that the
    catalog code path (the one the jar-gated test below always skipped)
    runs green end to end: replace,
    lineage create-then-append, metrics append, read's _pid drop, exists,
    and drop — and that a failed bookkeeping append raises and leaves the
    earlier rows in place."""
    from entity_resolver_spark.sources.catalog import Warehouse

    confs = {
        "spark.sql.catalog.er_jdbc": (
            "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog"
        ),
        "spark.sql.catalog.er_jdbc.url": f"jdbc:derby:{tmp_path}/derby_wh;create=true",
        "spark.sql.catalog.er_jdbc.driver": "org.apache.derby.jdbc.EmbeddedDriver",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        spark.sql("CREATE NAMESPACE IF NOT EXISTS er_jdbc.er")
        wh = Warehouse(spark, str(tmp_path / "wh"), namespace="er_jdbc.er")
        assert wh.use_iceberg, "JDBC V2 catalog must select the catalog branch"

        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        stats = wh.write("t1", df)
        assert stats["rows"] == 2 and stats["partitions"] >= 1
        assert wh.exists("t1") and not wh.exists("t_missing")
        got = wh.read("t1")
        assert "_pid" not in got.columns
        assert {r["id"]: r["s"] for r in got.collect()} == {1: "a", 2: "b"}

        # Lineage rows are compared driver-side: Derby stores Spark strings
        # as CLOB and rejects pushed-down CLOB = CHAR comparisons (a dialect
        # quirk, not a Warehouse behavior).
        def lineage():
            return sorted(tuple(r) for r in wh.read("_lineage").collect())

        first = lineage()
        assert {r[0] for r in first} == {"t1"}
        assert sum(r[2] for r in first) == 2

        # replace commit: table is swapped, not appended; its lineage rows
        # are appended next to the first commit's
        wh.write("t1", spark.createDataFrame([(3, "c")], "id int, s string"))
        assert wh.read("t1").count() == 1
        second = lineage()
        assert set(first) < set(second)
        assert [r[2] for r in second if r not in first] == [1]

        # an append that cannot land raises, and the history survives it
        bogus = StructType([StructField("bogus", StringType())])
        with pytest.raises(AnalysisException):
            wh._append("_lineage", [{"bogus": "x"}], bogus)
        assert lineage() == second

        wh.append_metrics([{"stage": "t1", "rows": 2, "wall_ms": 1.5}])
        metric_stages = [r["stage"] for r in wh.read("_metrics").collect()]
        assert metric_stages.count("t1") == 1

        wh.drop("t1")
        assert not wh.exists("t1")
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_warehouse_iceberg_mode_jar_gated(spark, tmp_path):
    """Iceberg-mode Warehouse commits (the north-rule storage layer),
    executed when the Iceberg Spark runtime is on the classpath and SKIPPED
    otherwise — this sandbox ships no Iceberg jars, so the parquet
    two-rename path (exercised by every pipeline test) is the fallback."""
    import pytest as _pytest

    from entity_resolver_spark.sources.catalog import Warehouse

    confs = {
        "spark.sql.catalog.icetest": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.icetest.type": "hadoop",
        "spark.sql.catalog.icetest.warehouse": str(tmp_path / "ice"),
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        try:
            spark.sql("CREATE NAMESPACE IF NOT EXISTS icetest.er")
        except Exception as exc:  # jar-gated: no Iceberg runtime here
            _pytest.skip(f"Iceberg runtime not on classpath ({type(exc).__name__})")
        wh = Warehouse(spark, str(tmp_path / "wh"), namespace="icetest.er")
        assert wh.use_iceberg
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
        stats = wh.write("t1", df)
        assert stats["rows"] == 2
        assert wh.exists("t1")
        got = {r["id"]: r["s"] for r in wh.read("t1").collect()}
        assert got == {1: "a", 2: "b"}
        # replace is atomic snapshot commit
        wh.write("t1", spark.createDataFrame([(3, "c")], "id int, s string"))
        assert wh.read("t1").count() == 1
    finally:
        for k in confs:
            spark.conf.unset(k)


def _lineage_of(wh, table: str) -> list[tuple[int, int]]:
    return sorted(
        (r["partition_id"], r["rows"])
        for r in wh.read("_lineage").where(F.col("stage") == table).collect()
    )


def _committed_counts(spark, wh, table: str) -> list[tuple[int, int]]:
    raw = spark.read.parquet(wh._path(table))
    return sorted((r["_pid"], r["count"]) for r in raw.groupBy("_pid").count().collect())


def test_warehouse_footer_lineage_is_exact(spark, tmp_path):
    """Lineage and commit stats read from the parquet footers equal a
    groupBy over the committed table: a multi-partition frame with uneven
    partitions, an empty frame, and partitions split over several files by
    maxRecordsPerFile (their footer counts must be summed)."""
    from entity_resolver_spark.sources.catalog import Warehouse, _footer_counts

    wh = Warehouse(spark, str(tmp_path / "wh"))
    uneven = spark.range(0, 500).repartition(7, (F.col("id") % 5).cast("int"))
    stats = wh.write("multi", uneven)
    want = _committed_counts(spark, wh, "multi")
    assert len(want) > 1
    assert _lineage_of(wh, "multi") == want
    assert (stats["rows"], stats["partitions"]) == (500, len(want))

    stats = wh.write("empty", spark.createDataFrame([], "id int, s string"))
    assert (stats["rows"], stats["partitions"]) == (0, 0)
    assert _lineage_of(wh, "empty") == []
    assert wh.read("empty").count() == 0

    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    try:
        stats = wh.write("split", spark.range(0, 90, numPartitions=3))
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    files = [f for f in os.listdir(wh._path("split")) if f.startswith("part-")]
    want = _committed_counts(spark, wh, "split")
    assert len(files) > len(want) == 3
    assert _lineage_of(wh, "split") == want
    assert (stats["rows"], stats["partitions"]) == (90, 3)

    # A row group holding several partitions, or one written without column
    # statistics, is counted from its _pid column.
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(
        pa.table({"_pid": pa.array([0, 0, 1, 2, 2, 2], pa.int32())}),
        str(mixed / "part-a.parquet"),
        row_group_size=4,
    )
    pq.write_table(
        pa.table({"_pid": pa.array([2, 2], pa.int32())}),
        str(mixed / "part-b.parquet"),
        write_statistics=False,
    )
    assert _footer_counts(str(mixed)) == {0: 2, 1: 1, 2: 5}


def _jobs_in(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus; let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warehouse_commit_runs_only_its_data_write(spark, tmp_path):
    """A parquet-mode commit launches exactly the jobs of a bare
    ``write.parquet`` of the same frame (no re-read for lineage or stats),
    and a metrics append launches none."""
    from entity_resolver_spark.sources.catalog import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 2000).groupBy((F.col("id") % 37).alias("k")).count()
    bare = _jobs_in(spark, lambda: df.write.parquet(str(tmp_path / "bare")))
    assert bare >= 1
    assert _jobs_in(spark, lambda: wh.write("t", df)) == bare
    metrics = [{"stage": "t", "rows": 1, "wall_ms": 1.0}]
    assert _jobs_in(spark, lambda: wh.append_metrics(metrics)) == 0


LINEAGE_TYPES = [
    ("stage", "string"),
    ("partition_id", "int"),
    ("rows", "bigint"),
    ("committed_at_ns", "bigint"),
]
METRICS_TYPES = [
    ("stage", "string"),
    ("payload", "string"),
    ("rows", "bigint"),
    ("wall_ms", "double"),
    ("at_ns", "bigint"),
]


def test_warehouse_bookkeeping_types_survive_resume(spark, tmp_path):
    """``_lineage`` / ``_metrics`` keep their Spark column types, both in a
    fresh warehouse and in one resumed from a warehouse whose bookkeeping
    files Spark itself appended (those appends are reproduced here as the
    earlier Warehouse made them), so old and new files read back as one
    table."""
    from entity_resolver_spark.sources.catalog import Warehouse

    fresh = Warehouse(spark, str(tmp_path / "fresh"))
    fresh.write("t", spark.range(0, 10))
    fresh.append_metrics([{"stage": "t", "rows": 10, "wall_ms": 2.0}])
    assert fresh.read("_lineage").dtypes == LINEAGE_TYPES
    assert fresh.read("_metrics").dtypes == METRICS_TYPES

    wh = Warehouse(spark, str(tmp_path / "resumed"))
    committed = spark.range(0, 10, numPartitions=2).withColumn(
        "_pid", F.spark_partition_id()
    )
    (
        committed.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("rows"))
        .withColumn("stage", F.lit("old"))
        .withColumn("committed_at_ns", F.lit(time.time_ns()))
        .select("stage", F.col("_pid").alias("partition_id"), "rows", "committed_at_ns")
        .write.mode("append")
        .parquet(wh._path("_lineage"))
    )
    spark.createDataFrame(
        [("old", "{}", 10, 1.0, 1)],
        schema="stage string, payload string, rows long, wall_ms double, at_ns long",
    ).write.mode("append").parquet(wh._path("_metrics"))

    wh.write("new", spark.range(0, 4, numPartitions=2))
    wh.append_metrics([{"stage": "new", "rows": 4, "wall_ms": 3.0}])
    lineage, metrics = wh.read("_lineage"), wh.read("_metrics")
    assert lineage.dtypes == LINEAGE_TYPES
    assert metrics.dtypes == METRICS_TYPES
    assert sorted(tuple(r) for r in lineage.drop("committed_at_ns").collect()) == [
        ("new", 0, 2),
        ("new", 1, 2),
        ("old", 0, 5),
        ("old", 1, 5),
    ]
    assert sorted(r["stage"] for r in metrics.collect()) == ["new", "old"]
