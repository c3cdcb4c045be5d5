"""One measured run of one workload, in a fresh process.

Started by run.py with the corpus already on disk. The process:

1. set-up (timed as `setup_s` from the parent's spawn instant): imports,
   `get_spark` (JVM launch plus `_warm_session`) and opening the two input
   tables;
2. batch (`wall_s`): `ResolutionPipeline.run(resume=False)` over the base
   delivery into a fresh parquet warehouse;
3. fold (`fold_s`): `run_incremental` of the later delivery on top of it;
4. checks and evaluation, after the timers stop.

It prints one JSON object as its last stdout line. With `--trace 1` the
operators and the Warehouse are wrapped in spans (spans.py), Spark's event
log is on, and per-layer metrics replace the end-to-end ones.
"""

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

from proctree import ProcTree  # noqa: E402
from spans import dir_bytes  # noqa: E402


def _ids_once(df, ids) -> bool:
    """Every id of `ids` occurs exactly once in `df.conv_id`, and no other."""
    from pyspark.sql import functions as F

    per_id = df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    joined = per_id.join(ids.withColumn("_in", F.lit(True)), "conv_id", "full_outer")
    return joined.where(
        F.col("_in").isNull() | F.col("n").isNull() | (F.col("n") != 1)
    ).isEmpty()


def check_outputs(wh, base, delta, labels) -> tuple[list[str], dict]:
    """The run's correctness checks over the final committed tables; returns
    (failed checks, strict pairwise scores). The checks are independent
    Spark queries over small tables, so they run concurrently."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from entity_resolver_spark.operators.transcripts import turn_equality_check
    from entity_resolver_spark.plans.pipeline import evaluate_pairs

    records, clusters = wh.read("records"), wh.read("clusters")
    pairs, scored = wh.read("pairs"), wh.read("scored")
    ids = base.select("conv_id").unionByName(delta.select("conv_id")).distinct()
    turns = base.unionByName(delta).dropDuplicates(["conv_id", "turn_idx"])
    blocked = labels.join(
        pairs.select(F.col("left").alias("_l"), F.col("right").alias("_r")),
        (F.least("left", "right") == F.col("_l"))
        & (F.greatest("left", "right") == F.col("_r")),
        "left_semi",
    )
    checks = {
        "turn_equality_check is empty":
            lambda: turn_equality_check(turns, records).isEmpty(),
        "records hold exactly base + delta ids": lambda: _ids_once(records, ids),
        "every conv_id is in exactly one cluster":
            lambda: _ids_once(clusters.where(F.col("cluster_id").isNotNull()), ids),
        "pairs has no duplicate (left, right)":
            lambda: pairs.groupBy("left", "right").count().where("count > 1").isEmpty(),
        "F1 at identical blocking keys >= 0.99":
            lambda: evaluate_pairs(scored, blocked)["f1"] >= 0.99,
    }
    with ThreadPoolExecutor(len(checks) + 1) as pool:
        strict = pool.submit(evaluate_pairs, scored, labels)
        done = {name: pool.submit(fn) for name, fn in checks.items()}
        failures = [name for name, fut in done.items() if not fut.result()]
        return failures, strict.result()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--spawn-ts", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from entity_resolver_spark.plans.pipeline import ResolutionPipeline
    from entity_resolver_spark.session import get_spark
    from entity_resolver_spark.sources.catalog import Warehouse

    # A fixed heap (initial = max) keeps G1 from resizing it at GC-timing-
    # dependent moments, one source of run-to-run variance in the timings.
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    extra = {
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    event_dir = os.path.join(args.workdir, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    t_session = time.time()
    spark = get_spark("perfbench", master=f"local[{args.cores}]", extra_conf=extra)
    session_s = time.time() - t_session
    base = spark.read.parquet(os.path.join(args.corpus, "base"))
    delta = spark.read.parquet(os.path.join(args.corpus, "delta"))
    setup_s = time.time() - args.spawn_ts

    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        spans.install(tracer)

    proc = ProcTree()
    wh_dir = os.path.join(args.workdir, "warehouse")

    c0, t0 = proc.cpu(), time.time()
    batch = ResolutionPipeline(spark, wh_dir).run(base, resume=False)
    t1, c1 = time.time(), proc.cpu()

    wh = Warehouse(spark, wh_dir)
    layer_counts = _batch_counts(spark, wh, batch, args.corpus) if tracer else {}

    c2, t2 = proc.cpu(), time.time()
    ResolutionPipeline(spark, wh_dir).run_incremental(delta)
    t3, c3 = time.time(), proc.cpu()

    wh_bytes = dir_bytes(wh_dir)[0]
    in_bytes = sum(dir_bytes(os.path.join(args.corpus, t))[0] for t in ("base", "delta"))
    labels = spark.read.parquet(os.path.join(args.corpus, "labels.parquet"))
    failures, strict = check_outputs(wh, base, delta, labels)
    checks_s = time.time() - t3

    # one operation per cycle: both deliveries resolved and checked
    result = {
        "failures": failures,
        "attempted": 1,
        "failed": int(bool(failures)),
        "checks_s": checks_s,
        "stage_ms": {m["stage"]: m.get("total_ms") for m in batch.metrics if "total_ms" in m},
    }
    end_to_end = {
        "setup_s": setup_s,
        "wall_s": t1 - t0,
        "fold_s": t3 - t2,
        "cpu_s": _cpu(c0, c1) + _cpu(c2, c3),
        "pair_f1": strict["f1"],
        "warehouse_amp": wh_bytes / in_bytes,
    }
    spark.stop()
    if tracer is None:
        result["metrics"] = end_to_end
    else:
        events = spans.read_event_log(event_dir)
        result["metrics"] = _layer_metrics(tracer, events, layer_counts, session_s)
        result["end_to_end"] = end_to_end
        result["spans"] = tracer.spans
    print(json.dumps(result))
    return 0


def _cpu(a: dict, b: dict) -> float:
    return sum(b.values()) - sum(a.values())


def _batch_counts(spark, wh, batch, corpus: str) -> dict:
    """Domain counts of the committed batch run (traced runs only)."""
    from pyspark.sql import functions as F

    guard = next(m for m in batch.metrics if m["stage"] == "pairs_skew_guard")
    records, pairs, scored = wh.read("records"), wh.read("pairs"), wh.read("scored")
    labels = spark.read.parquet(os.path.join(corpus, "labels.parquet"))
    true = labels.where("match").select(
        F.least("left", "right").alias("left"), F.greatest("left", "right").alias("right")
    ).distinct()
    ids = records.select("conv_id")
    true = true.join(ids.withColumnRenamed("conv_id", "left"), "left", "left_semi").join(
        ids.withColumnRenamed("conv_id", "right"), "right", "left_semi"
    )
    n_true, n_pairs = true.count(), pairs.count()
    hits = pairs.join(true, ["left", "right"], "left_semi").count()
    n_records = records.count()
    clusters = wh.read("clusters").groupBy("cluster_id").count()
    sizes = clusters.agg(F.count(F.lit(1)).alias("n"), F.max("count").alias("max")).first()
    from entity_resolver_spark.config import EngineConfig
    from entity_resolver_spark.operators.scoring import Model

    cfg, model = EngineConfig(), Model.default()
    edge_t = max(cfg.min_edge_confidence, model.edge_threshold)
    nbytes, nfiles = dir_bytes(wh.root)
    return {
        "records.turns_in": records.agg(F.sum("n_turns")).first()[0],
        "records.rows": n_records,
        "blocking.pairs": n_pairs,
        "blocking.pairs_per_record": n_pairs / n_records,
        "blocking.hot_blocks": guard["n_hot_blocks"],
        "blocking.forgone_pairs": guard["forgone_pairs"],
        "blocking.recall": hits / n_true if n_true else 1.0,
        "blocking.yield": hits / n_pairs if n_pairs else 0.0,
        "scoring.matches": scored.where("is_match").count(),
        "clustering.edges": scored.where(
            F.col("is_match") & (F.col("proba") >= edge_t)
        ).count(),
        "clustering.clusters": sizes["n"],
        "clustering.max_cluster": sizes["max"],
        "catalog.bytes_mb": nbytes / 2**20,
        "catalog.files": nfiles,
    }


def _layer_metrics(tracer, events: dict, counts: dict, session_s: float) -> dict:
    import spans

    run, fold = tracer.roots()
    groups = {
        "records": ("records",),
        "vectors": ("vectors",),
        "blocking": ("blocking.all_blocks", "blocking.split", "blocking.pair_join"),
        "blocking.all_blocks": ("blocking.all_blocks",),
        "blocking.split": ("blocking.split",),
        "blocking.pair_join": ("blocking.pair_join",),
        "pair_inputs": ("pair_inputs",),
        "scoring": ("scoring",),
        "clustering": ("clustering",),
        "catalog": ("catalog",),
        "unattributed": ("unattributed",),
        "all": tuple(spans.LAYERS),
    }
    b = spans.layer_table(tracer, run, events, groups)
    f = spans.layer_table(tracer, fold, events, groups)
    wall = run["t1"] - run["t0"]
    fold_wall = fold["t1"] - fold["t0"]
    fold_writes = [
        s for s in tracer.spans
        if s["name"] == "catalog.write" and fold["t0"] <= s["t0"] <= fold["t1"]
    ]
    pairs_new = next(s["rows"] for s in fold_writes if s["table"] == "pairs_new")
    broadcast = tracer.captured.get("broadcast", [])
    m = {
        "session.start_s": session_s,
        "pipeline.s": wall,
        "pipeline.jobs": b["all"]["jobs"],
        "pipeline.unattributed_s": b["unattributed"]["s"],
        "pipeline.attributed_share": 1.0 - b["unattributed"]["s"] / wall,
        "records.s": b["records"]["s"],
        "records.exec_cpu_s": b["records"]["exec_cpu_s"],
        "records.udf_cpu_s": b["records"]["udf_cpu_s"],
        "records.turns_in": counts["records.turns_in"],
        "records.rows": counts["records.rows"],
        "vectors.s": b["vectors"]["s"],
        "vectors.exec_cpu_s": b["vectors"]["exec_cpu_s"],
        "blocking.s": b["blocking"]["s"],
        "blocking.all_blocks_s": b["blocking.all_blocks"]["s"],
        "blocking.split_s": b["blocking.split"]["s"],
        "blocking.pair_join_s": b["blocking.pair_join"]["s"],
        "blocking.exec_cpu_s": b["blocking"]["exec_cpu_s"],
        "blocking.jobs": b["blocking"]["jobs"],
        "blocking.tasks": b["blocking"]["tasks"],
        "blocking.shuffle_mb": b["blocking"]["shuffle_mb"],
        "blocking.spill_mb": b["blocking"]["spill_mb"],
        "blocking.task_p50_ms": b["blocking"]["task_p50_ms"],
        "blocking.task_max_ms": b["blocking"]["task_max_ms"],
        "blocking.task_skew": b["blocking"]["task_skew"],
        "blocking.peak_exec_mem_mb": b["blocking"]["peak_exec_mem_mb"],
        "blocking.pairs": counts["blocking.pairs"],
        "blocking.pairs_per_record": counts["blocking.pairs_per_record"],
        "blocking.hot_blocks": counts["blocking.hot_blocks"],
        "blocking.forgone_pairs": counts["blocking.forgone_pairs"],
        "blocking.recall": counts["blocking.recall"],
        "blocking.yield": counts["blocking.yield"],
        "pair_inputs.s": b["pair_inputs"]["s"],
        "pair_inputs.exec_cpu_s": b["pair_inputs"]["exec_cpu_s"],
        "pair_inputs.udf_cpu_s": b["pair_inputs"]["udf_cpu_s"],
        "pair_inputs.shuffle_mb": b["pair_inputs"]["shuffle_mb"],
        "pair_inputs.broadcast": float(bool(broadcast) and broadcast[0]),
        "pair_inputs.broadcast_mb": b["pair_inputs"]["broadcast_mb"],
        "pair_inputs.peak_exec_mem_mb": b["pair_inputs"]["peak_exec_mem_mb"],
        "scoring.s": b["scoring"]["s"],
        "scoring.pairs_per_s": counts["blocking.pairs"] / b["scoring"]["s"],
        "scoring.exec_cpu_s": b["scoring"]["exec_cpu_s"],
        "scoring.udf_cpu_s": b["scoring"]["udf_cpu_s"],
        "scoring.matches": counts["scoring.matches"],
        "clustering.s": b["clustering"]["s"],
        "clustering.jobs": b["clustering"]["jobs"],
        "clustering.edges": counts["clustering.edges"],
        "clustering.clusters": counts["clustering.clusters"],
        "clustering.max_cluster": counts["clustering.max_cluster"],
        "catalog.commit_s": b["catalog"]["s"],
        "catalog.jobs": b["catalog"]["jobs"],
        "catalog.bytes_mb": counts["catalog.bytes_mb"],
        "catalog.files": counts["catalog.files"],
        "fold.s": fold_wall,
        "fold.reblock_s": f["blocking"]["s"],
        "fold.rescore_s": f["scoring"]["s"],
        "fold.commit_s": f["catalog"]["s"],
        "fold.pairs_new": pairs_new,
        "fold.rewrite_mb": sum(s.get("bytes", 0) for s in fold_writes
                               if not s["table"].startswith("_")) / 2**20,
        "fold.unattributed_s": f["unattributed"]["s"],
        "fold.attributed_share": 1.0 - f["unattributed"]["s"] / fold_wall,
    }
    return m


if __name__ == "__main__":
    sys.exit(main())
