"""Warehouse: per-stage checkpoint tables with atomic commits + lineage.

The reference checkpoints stage outputs as pickles with tmp-file atomic
replace (/root/reference/src/preprocessing.py:337-352,
src/classifying.py:425-458) and tracks stage state in pipeline_state.json
(src/checkpoint_manager.py:16-185). Here every stage commits a TABLE:

* Iceberg when the runtime has the Iceberg Spark extensions on the classpath
  (``spark.sql.catalog...`` configured) — ``writeTo(...).createOrReplace()``
  gives atomic snapshots and time travel.
* Otherwise (this sandbox: no Iceberg jars) a parquet warehouse directory with
  write-to-tmp + atomic ``os.rename`` — same commit discipline, same layout.

Per-partition lineage: alongside each table a ``_lineage`` table records
(stage, partition_id, rows, committed_at_ns) so a resumed run can prove which
partitions were produced by which stage run (north_rule requirement).

In parquet mode a commit runs only its data write. The per-partition row
counts (lineage and the returned stats) come from the committed files'
parquet footers, not from a re-read of the table, and lineage / ``_metrics``
rows are appended without a Spark job: one parquet file written by
``pyarrow`` under a hidden name inside the table directory, then renamed
into place (Spark lists no hidden file, so a reader sees the whole file or
none of it). In Iceberg mode the counts come from one aggregate over the
committed snapshot, and the rows are appended through ``writeTo``, creating
the table only when it does not exist yet.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Column types of the bookkeeping tables. Older warehouses hold files that
# Spark jobs appended with exactly these types, and resuming one mixes those
# files with pyarrow-written ones in the same table, so the types must not
# change.
LINEAGE_SCHEMA = StructType(
    [
        StructField("stage", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("rows", LongType()),
        StructField("committed_at_ns", LongType()),
    ]
)
METRICS_SCHEMA = StructType(
    [
        StructField("stage", StringType()),
        StructField("payload", StringType()),
        StructField("rows", LongType()),
        StructField("wall_ms", DoubleType()),
        StructField("at_ns", LongType()),
    ]
)


def iceberg_available(spark: SparkSession, catalog: str | None = None) -> bool:
    """True when an Iceberg catalog is configured on this session — either in
    the context SparkConf or (``catalog`` given) set at runtime on SQL conf."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:
        confs = []
    if any(k.startswith("spark.sql.catalog.") for k, _ in confs):
        return True
    if catalog:
        try:
            return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None
        except Exception:
            return False
    return False


def _footer_counts(path: str) -> Counter:
    """{_pid: rows} of a committed parquet table directory, from the part
    files' footers: a row group whose ``_pid`` statistics have min == max
    holds that one partition; any other row group has its ``_pid`` column
    read. Hidden and ``_``-prefixed files (``_SUCCESS``, checksums) are not
    data, as for Spark's own listing."""
    counts: Counter = Counter()
    for name in os.listdir(path):
        if name.startswith((".", "_")):
            continue
        pf = pq.ParquetFile(os.path.join(path, name))
        md = pf.metadata
        col = next(
            j for j in range(md.num_columns) if md.schema.column(j).path == "_pid"
        )
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            st = rg.column(col).statistics
            if st is not None and st.has_min_max and st.min == st.max:
                counts[st.min] += rg.num_rows
            else:
                pids = pf.read_row_group(i, columns=["_pid"]).column(0)
                counts.update(pids.to_pylist())
    return counts


class Warehouse:
    """Stage-table store rooted at a directory (parquet mode) or an Iceberg
    namespace (iceberg mode)."""

    def __init__(self, spark: SparkSession, root: str, namespace: str = "er"):
        self.spark = spark
        self.root = root
        self.namespace = namespace
        self.use_iceberg = iceberg_available(spark, namespace.split(".")[0])
        if not self.use_iceberg:
            os.makedirs(root, exist_ok=True)

    # -- paths / names -------------------------------------------------
    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _ident(self, table: str) -> str:
        return f"{self.namespace}.{table}"

    # -- commits --------------------------------------------------------
    def write(self, table: str, df: DataFrame) -> dict:
        """Atomically (re)place ``table`` with ``df``; record lineage rows.
        Returns commit stats {rows, partitions, wall_ms}."""
        t0 = time.monotonic()
        with_pid = df.withColumn("_pid", F.spark_partition_id())
        if self.use_iceberg:
            with_pid.writeTo(self._ident(table)).createOrReplace()
            committed = self.spark.read.table(self._ident(table))
            counts = {
                r["_pid"]: r["count"]
                for r in committed.groupBy("_pid").count().collect()
            }
        else:
            tmp = self._path(f"_tmp_{table}_{uuid.uuid4().hex[:8]}")
            with_pid.write.mode("overwrite").parquet(tmp)
            final = self._path(table)
            # Two renames instead of rmtree-then-rename: the previously
            # committed table is moved aside first, so a crash at any point
            # leaves either the old or the new table in place (never neither);
            # the stale `.old` copy is garbage, not state — exists() keys on
            # the final path's _SUCCESS marker.
            old = final + ".old"
            if os.path.exists(old):
                shutil.rmtree(old)
            if os.path.exists(final):
                os.rename(final, old)
            os.rename(tmp, final)
            if os.path.exists(old):
                shutil.rmtree(old)
            counts = _footer_counts(final)
        at_ns = time.time_ns()
        self._append(
            "_lineage",
            [
                {"stage": table, "partition_id": pid, "rows": n, "committed_at_ns": at_ns}
                for pid, n in sorted(counts.items())
            ],
            LINEAGE_SCHEMA,
        )
        return {
            "rows": sum(counts.values()),
            "partitions": len(counts),
            "wall_ms": int((time.monotonic() - t0) * 1000),
        }

    def _append(self, table: str, rows: list[dict], schema: StructType) -> None:
        """Append driver-side ``rows`` (dicts keyed by ``schema``'s fields)."""
        if self.use_iceberg:
            df = self.spark.createDataFrame(rows, schema)
            ident = self._ident(table)
            if self.spark.catalog.tableExists(ident):
                df.writeTo(ident).append()
            else:
                df.writeTo(ident).create()
            return
        path = self._path(table)
        os.makedirs(path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(path, "." + name)
        pq.write_table(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)), tmp)
        os.rename(tmp, os.path.join(path, name))

    def append_metrics(self, rows: list[dict]) -> None:
        """Append stage-metrics rows to the `_metrics` table (the reference's
        telemetry sink, src/classifying.py:460-483, as a table not JSON)."""
        self._append(
            "_metrics",
            [
                {
                    "stage": r["stage"],
                    "payload": json.dumps(r, default=str),
                    "rows": int(r.get("rows", -1)),
                    "wall_ms": float(r.get("wall_ms", -1)),
                    "at_ns": time.time_ns(),
                }
                for r in rows
            ],
            METRICS_SCHEMA,
        )

    # -- reads ------------------------------------------------------------
    def exists(self, table: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(table))
        p = self._path(table)
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    def read(self, table: str) -> DataFrame:
        if self.use_iceberg:
            df = self.spark.read.table(self._ident(table))
        else:
            df = self.spark.read.parquet(self._path(table))
        return df.drop("_pid") if "_pid" in df.columns else df

    def drop(self, table: str) -> None:
        if self.use_iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(table)}")
        else:
            p = self._path(table)
            if os.path.exists(p):
                shutil.rmtree(p)

    # -- stage state (reference PipelineStateTracker) ----------------------
    def _state_path(self) -> str:
        return os.path.join(self.root, "_pipeline_state.json")

    def load_state(self) -> dict:
        p = self._state_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"completed": [], "stages": {}}

    def save_state(self, state: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=2, default=str)
        os.replace(tmp, self._state_path())
