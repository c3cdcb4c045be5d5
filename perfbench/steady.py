"""Steadiness proof: run each workload over several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (Q3 - Q1) as a
share of the median, against a third of the metric's bound.

    python3 perfbench/steady.py --seeds 10 [--repeat-seed 1] [--trace-seed 1]
                                [--out perfbench/results/x.json]

Every workload of BENCHMARK.json runs, over seeds 1 to `--seeds`.

`--repeat-seed S` runs seed S a second time on every workload and checks
that the count metrics repeat exactly; `--trace-seed S` makes two traced runs
of seed S per workload, reports their per-layer table, checks that the
per-layer counts repeat exactly, and the tracing overhead (traced wall minus
the untraced run of the same seed). Runs are sequential, each in a fresh
process, as the benchmark is meant to be run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Metrics that count things: they must repeat exactly for the same seed.
E2E_COUNTS = ("warehouse_amp", "pair_f1")
LAYER_COUNTS = (
    "records.turns_in", "records.rows", "blocking.pairs", "blocking.hot_blocks",
    "blocking.forgone_pairs", "blocking.recall", "blocking.yield",
    "scoring.matches", "clustering.edges", "clustering.clusters",
    "clustering.max_cluster", "blocking.jobs", "clustering.jobs",
    "pipeline.jobs", "catalog.jobs", "catalog.bytes_mb", "catalog.files",
    "fold.pairs_new", "fold.rewrite_mb", "pair_inputs.broadcast",
    "pair_inputs.broadcast_mb", "pair_inputs.peak_exec_mem_mb", "blocking.peak_exec_mem_mb",
)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=REPO, capture_output=True, text=True, timeout=200,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    r = json.loads(lines[-1])
    r["run_s"] = time.time() - t0
    r["diagnostics"] = [line for line in lines[:-1] if line.startswith("#")]
    print(f"{workload} seed={seed} trace={trace} run_s={r['run_s']:.1f} correct={r['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in list(r["metrics"].items())[:8]),
          flush=True)
    return r


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--repeat-seed", type=int)
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    workloads = [w["name"] for w in spec["workloads"]]
    seeds = list(range(1, args.seeds + 1))
    report: dict = {"seeds": seeds, "workloads": {}}
    ok = True
    for w in workloads:
        runs = {s: run_once(w, s, spec["run_seconds"], 0) for s in seeds}
        rows = {}
        for m in spec["end_to_end"]:
            st = spread([runs[s]["metrics"][m["name"]]["value"] for s in seeds])
            st["limit"] = m["bound"] / 3
            st["steady"] = st["spread"] < st["limit"]
            ok &= st["steady"]
            rows[m["name"]] = st
        entry = {
            "metrics": rows,
            "correct": all(r["correct"] for r in runs.values()),
            "run_s": spread([r["run_s"] for r in runs.values()]),
            "values": {s: {k: v["value"] for k, v in r["metrics"].items()}
                       for s, r in runs.items()},
        }
        ok &= entry["correct"]
        if args.repeat_seed is not None:
            again = run_once(w, args.repeat_seed, spec["run_seconds"], 0)
            first = runs.get(args.repeat_seed) or run_once(w, args.repeat_seed, spec["run_seconds"], 0)
            entry["repeat"] = {
                k: [first["metrics"][k]["value"], again["metrics"][k]["value"]]
                for k in E2E_COUNTS
            }
        if args.trace_seed is not None:
            t1 = run_once(w, args.trace_seed, spec["run_seconds"], 1)
            t2 = run_once(w, args.trace_seed, spec["run_seconds"], 1)
            entry["traced"] = {k: v["value"] for k, v in t1["metrics"].items()}
            entry["traced_repeat"] = {
                k: [t1["metrics"][k]["value"], t2["metrics"][k]["value"]]
                for k in LAYER_COUNTS
            }
            base = runs.get(args.trace_seed) or run_once(w, args.trace_seed, spec["run_seconds"], 0)
            entry["trace_overhead_s"] = {
                "wall_s": statistics.median(
                    [t["metrics"]["pipeline.s"]["value"] for t in (t1, t2)]
                ) - base["metrics"]["wall_s"]["value"],
                "fold_s": statistics.median(
                    [t["metrics"]["fold.s"]["value"] for t in (t1, t2)]
                ) - base["metrics"]["fold_s"]["value"],
            }
        report["workloads"][w] = entry
        for name, st in rows.items():
            flag = "ok" if st["steady"] else "NOT STEADY"
            print(f"  {w} {name}: median={st['median']:.5g} q1={st['q1']:.5g} q3={st['q3']:.5g} "
                  f"spread={st['spread']:.4f} limit={st['limit']:.4f} {flag}", flush=True)
        for k, pair in {**entry.get("repeat", {}), **entry.get("traced_repeat", {})}.items():
            print(f"  {w} repeat {k}: {pair} {'exact' if pair[0] == pair[1] else 'DIFFERS'}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
