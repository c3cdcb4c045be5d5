"""Outside-in tracing of one pipeline run, from the benchmark process.

`install` wraps the engine's public entry points in spans without editing
the package: `ResolutionPipeline.run` / `run_incremental` (the roots), the
operator functions `plans.pipeline` calls, and the `Warehouse` methods.

Spark is lazy, so an operator call mostly builds a plan; its work runs at
the next eager action, usually the stage's `Warehouse.write`. Time is
therefore attributed by *segment*: from a top-level operator call until the
next operator call or the end of the current stage commit, every instant
belongs to that operator's layer, except time inside a `Warehouse` span,
which belongs to `catalog`. The parquet data write inside `Warehouse.write`
is the stage's own plan running, so it goes back to the segment's layer (or
to `catalog` when the stage table is rewritten without any operator, as the
fold does with `pairs`). Whatever remains is `unattributed`.

Spark jobs, tasks and broadcast relations are assigned to layers the same
way, by the instant they were submitted or launched (for a broadcast: its SQL
execution started), from Spark's own event log.
"""

from __future__ import annotations

import bisect
import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from proctree import ProcTree

# operator -> segment layer
OPERATORS = {
    "build_entity_records": "records",
    "text_vectors": "vectors",
    "all_blocks": "blocking.all_blocks",
    "hot_block_metrics": "blocking.split",
    "split_hot_blocks": "blocking.split",
    "pairs_from_blocks": "blocking.pair_join",
    "pair_inputs": "pair_inputs",
    "pair_features": "scoring",
    "features_from_inputs": "scoring",
    "score_pairs": "scoring",
    "cluster_records": "clustering",
}
CATALOG_METHODS = ("write", "read", "append_metrics", "_append", "load_state", "save_state")
LAYERS = [
    "records", "vectors", "blocking.all_blocks", "blocking.split",
    "blocking.pair_join", "pair_inputs", "scoring", "clustering", "catalog",
    "unattributed",
]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under `path`."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


class Tracer:
    """Spans kept in memory; each open and close samples process-tree CPU."""

    def __init__(self, proc: ProcTree | None = None):
        self.proc = proc or ProcTree()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.marks: list[tuple[float, str]] = []
        self.commits: list[float] = []
        self.samples: dict[float, dict] = {}
        self.captured: dict = {}

    def _now(self) -> float:
        t = time.time()
        self.samples[t] = self.proc.cpu()
        return t

    def open(self, name: str, kind: str, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self.stack[-1]["id"] if self.stack else None,
            "name": name,
            "kind": kind,
            "t0": self._now(),
            "t1": None,
            **attrs,
        }
        self.spans.append(span)
        self.stack.append(span)
        return span

    def close(self, span: dict) -> None:
        assert self.stack and self.stack[-1] is span, "spans must nest"
        span["t1"] = self._now()
        self.stack.pop()

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        s = self.open(name, kind, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def active(self) -> bool:
        return bool(self.stack)

    def in_kind(self, kind: str) -> bool:
        return any(s["kind"] == kind for s in self.stack)

    # -- attribution ------------------------------------------------------
    def roots(self) -> list[dict]:
        return [s for s in self.spans if s["kind"] == "root"]

    def _inside(self, root: dict) -> list[dict]:
        return [
            s for s in self.spans
            if s is not root and root["t0"] <= s["t0"] and s["t1"] <= root["t1"]
        ]

    def intervals(self, root: dict) -> list[tuple[float, float, str]]:
        """Cut `root` into elementary intervals, each with its layer."""
        inner = self._inside(root)
        marks = [m for m in self.marks if root["t0"] <= m[0] <= root["t1"]]
        commits = [c for c in self.commits if root["t0"] <= c <= root["t1"]]
        pts = sorted(
            {root["t0"], root["t1"], *(m[0] for m in marks), *commits}
            | {t for s in inner for t in (s["t0"], s["t1"])}
        )
        out = []
        for a, b in zip(pts, pts[1:]):
            mid = (a + b) / 2
            covering = [s for s in inner if s["t0"] <= mid <= s["t1"]]
            innermost = max(covering, key=lambda s: s["t0"], default=None)
            last_commit = max((c for c in commits if c <= mid), default=root["t0"])
            seg = [m[1] for m in marks if last_commit <= m[0] <= mid]
            if innermost is not None and innermost["kind"] == "catalog":
                layer = "catalog"
            elif seg:
                layer = seg[-1]
            elif innermost is not None and innermost["kind"] == "data":
                layer = "catalog"
            else:
                layer = "unattributed"
            out.append((a, b, layer))
        return out


def install(tracer: Tracer) -> None:
    """Wrap the pipeline's entry points, operators and Warehouse in spans."""
    from pyspark.sql import readwriter

    from entity_resolver_spark.operators import blocking, features
    from entity_resolver_spark.plans import pipeline
    from entity_resolver_spark.sources.catalog import Warehouse

    def root(fn, name):
        @functools.wraps(fn)
        def wrapped(*a, **k):
            with tracer.span(name, "root"):
                return fn(*a, **k)

        return wrapped

    def op(fn, name):
        layer = OPERATORS[name]

        @functools.wraps(fn)
        def wrapped(*a, **k):
            if not tracer.active():
                return fn(*a, **k)
            if not tracer.in_kind("op"):
                tracer.marks.append((tracer._now(), layer))
            with tracer.span(name, "op", layer=layer):
                return fn(*a, **k)

        return wrapped

    def catalog(fn, name):
        @functools.wraps(fn)
        def wrapped(self, *a, **k):
            if not tracer.active():
                return fn(self, *a, **k)
            table = a[0] if a and isinstance(a[0], str) else None
            with tracer.span(f"catalog.{name}", "catalog", table=table) as s:
                out = fn(self, *a, **k)
                if name == "write":
                    s["rows"] = out["rows"]
                    if not self.use_iceberg:
                        s["bytes"], s["files"] = dir_bytes(self._path(table))
            if name == "write" and not table.startswith("_"):
                tracer.commits.append(s["t1"])
            return out

        return wrapped

    def data_write(fn):
        @functools.wraps(fn)
        def wrapped(self, *a, **k):
            if not tracer.active() or tracer.stack[-1]["name"] != "catalog.write":
                return fn(self, *a, **k)
            with tracer.span("data.write", "data"):
                return fn(self, *a, **k)

        return wrapped

    def observe_broadcast(fn):
        @functools.wraps(fn)
        def wrapped(*a, **k):
            out = fn(*a, **k)
            if tracer.active():
                tracer.captured.setdefault("broadcast", []).append(bool(out))
            return out

        return wrapped

    pipeline.ResolutionPipeline.run = root(pipeline.ResolutionPipeline.run, "pipeline.run")
    pipeline.ResolutionPipeline.run_incremental = root(
        pipeline.ResolutionPipeline.run_incremental, "pipeline.fold"
    )
    wrapped_ops = {}
    for name in OPERATORS:
        for mod in (blocking, features, pipeline):
            if hasattr(mod, name):
                fn = getattr(mod, name)
                # one wrapper per function, shared by every module that
                # imported it, so a call is traced once whichever name it
                # went through; a call made inside another traced operator
                # (pair_features -> pair_inputs) is a child span, not a new
                # segment
                key = id(getattr(fn, "__wrapped__", fn))
                wrapped_ops.setdefault(key, op(fn, name))
                setattr(mod, name, wrapped_ops[key])
    features._auto_broadcast = observe_broadcast(features._auto_broadcast)
    for name in CATALOG_METHODS:
        setattr(Warehouse, name, catalog(getattr(Warehouse, name), name))
    readwriter.DataFrameWriter.parquet = data_write(readwriter.DataFrameWriter.parquet)


# -- Spark event log --------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Jobs, tasks and broadcast relations from an uncompressed event log
    directory, each with the instant it was submitted, launched or (for a
    broadcast) its SQL execution started."""
    jobs, tasks = [], []
    exec_start: dict[int, float] = {}
    # accumulator id of a BroadcastExchange's "data size" -> SQL execution
    bx_size: dict[int, int] = {}
    bx_bytes: dict[int, int] = {}

    def broadcast_sizes(node: dict, execution: int) -> None:
        if node["nodeName"] == "BroadcastExchange":
            for m in node["metrics"]:
                if m["name"] == "data size":
                    bx_size[m["accumulatorId"]] = execution
        for child in node["children"]:
            broadcast_sizes(child, execution)

    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "").rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    jobs.append({"id": ev["Job ID"], "t": ev["Submission Time"] / 1000.0})
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "t": info["Launch Time"] / 1000.0,
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "shuffle_b": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                        "peak_mem_b": m.get("Peak Execution Memory", 0),
                    })
                elif kind in ("SparkListenerSQLExecutionStart",
                              "SparkListenerSQLAdaptiveExecutionUpdate"):
                    if "time" in ev:
                        exec_start[ev["executionId"]] = ev["time"] / 1000.0
                    broadcast_sizes(ev["sparkPlanInfo"], ev["executionId"])
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc, value in ev["accumUpdates"]:
                        if acc in bx_size:
                            bx_bytes[acc] = max(bx_bytes.get(acc, 0), value)
    if not jobs:
        raise RuntimeError(f"no jobs in event log under {log_dir}")
    broadcasts = [{"t": exec_start[bx_size[acc]], "bytes": n} for acc, n in bx_bytes.items()]
    return {"jobs": jobs, "tasks": tasks, "broadcasts": broadcasts}


def layer_table(
    tracer: Tracer,
    root: dict,
    events: dict[str, list[dict]],
    groups: dict[str, tuple[str, ...]],
) -> dict[str, dict]:
    """Per group of layers under `root`: seconds, Python-worker CPU, and the
    jobs, task metrics and broadcast relations of the event log."""
    jobs, tasks = events["jobs"], events["tasks"]
    ivs = tracer.intervals(root)
    starts = [a for a, _, _ in ivs]

    def layer_at(t: float) -> str | None:
        if not root["t0"] <= t <= root["t1"]:
            return None
        return ivs[max(0, bisect.bisect_right(starts, t) - 1)][2]

    job_layers = [layer_at(j["t"]) for j in jobs]
    task_layers = [layer_at(tk["t"]) for tk in tasks]
    bx_layers = [layer_at(bx["t"]) for bx in events["broadcasts"]]
    out = {}
    for group, layers in groups.items():
        mine = [tk for tk, lay in zip(tasks, task_layers) if lay in layers]
        runs = [tk["run_ms"] for tk in mine]
        p50 = statistics.median(runs) if runs else 0.0
        out[group] = {
            "s": sum(b - a for a, b, lay in ivs if lay in layers),
            "udf_cpu_s": sum(
                tracer.samples[b]["workers"] - tracer.samples[a]["workers"]
                for a, b, lay in ivs
                if lay in layers
            ),
            "jobs": sum(lay in layers for lay in job_layers),
            "tasks": len(mine),
            "exec_cpu_s": sum(tk["cpu_s"] for tk in mine),
            "shuffle_mb": sum(tk["shuffle_b"] for tk in mine) / 2**20,
            "spill_mb": sum(tk["spill_b"] for tk in mine) / 2**20,
            "task_p50_ms": p50,
            "task_max_ms": max(runs, default=0),
            "task_skew": max(runs, default=0) / p50 if p50 else 0.0,
            "peak_exec_mem_mb": max((tk["peak_mem_b"] for tk in mine), default=0) / 2**20,
            "broadcast_mb": sum(
                bx["bytes"] for bx, lay in zip(events["broadcasts"], bx_layers) if lay in layers
            ) / 2**20,
        }
    return out
