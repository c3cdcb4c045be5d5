"""Benchmark entry point.

    python3 perfbench/run.py --workload er_dense --seed 1 --seconds 30 --trace 0

Runs from the root of a checkout. For one workload and seed it makes (or
reuses) the corpus, then starts `engine.py` in a fresh process, once per
cycle, until the measured time reaches `--seconds` (at least one cycle).
Each cycle gets its own warehouse, Spark local dir and temp dir under
`perfbench/.work/`, all deleted after the cycle, outside any timing.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`; each value is the median
over the cycles. Lines before it start with `#` and are diagnostics, such as
the noise-control kernel time. Exits non-zero without a result line when a
cycle cannot run, for example when the engine package is missing.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from proctree import descendants

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 150.0

# Pinned environment: local[k] with k <= 4 cores, driven from one process, and
# a fixed 2 GiB driver heap that leaves most of a 15 GB machine free (the
# engine's default, 24g, is larger than physical memory there).
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
PRE_READ = ("pyspark", "py4j", "pandas", "numpy", "pyarrow")


def _log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def _become_subreaper() -> None:
    """Orphaned descendants (the JVM, once its Python driver has exited, and
    the UDF workers) are re-parented to this process, so it can wait for
    every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap(deadline: float) -> None:
    """Wait until every descendant has exited; SIGKILL them past `deadline`."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.time() > deadline:
            for p in descendants(os.getpid()):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _wait_for_stale_runs(timeout: float = 60.0) -> None:
    """Wait until no process is left running in an earlier run's work dir."""
    end = time.time() + timeout
    while time.time() < end:
        busy = []
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                cwd = os.readlink(f"/proc/{name}/cwd")
            except OSError:
                continue
            if cwd.startswith(WORK + os.sep):
                busy.append(name)
        if not busy:
            return
        time.sleep(0.5)
    _log("stale benchmark processes still running; continuing")


def _pre_read() -> None:
    """Read the engine's code, Spark's jars and the Python packages it loads
    once, so no timed phase waits on a cold page cache."""
    import importlib.util

    roots = [os.path.join(REPO, "entity_resolver_spark")]
    for mod in PRE_READ:
        spec = importlib.util.find_spec(mod)
        if spec and spec.submodule_search_locations:
            roots.extend(spec.submodule_search_locations)
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                try:
                    with open(os.path.join(d, n), "rb") as f:
                        while f.read(1 << 20):
                            pass
                except OSError:
                    pass


def _noise_kernel() -> float:
    """Fixed single-thread CPU work; a slow reading flags a contended box."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(400_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def _cycle(corpus: str, trace: int, deadline: float, spans_out: str | None) -> dict:
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    env = dict(
        os.environ,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_GRAFT_CPUS=str(CORES),
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "engine.py"),
        "--corpus", corpus, "--workdir", work, "--cores", str(CORES),
        "--trace", str(trace),
    ]
    log_path = os.path.join(work, "engine.log")
    try:
        with open(log_path, "w") as log:
            spawn = time.time()
            proc = subprocess.Popen(
                [*cmd, "--spawn-ts", repr(spawn)],
                cwd=work, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            )
            try:
                out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                raise RuntimeError("engine run exceeded the time limit")
            finally:
                _reap(time.time() + 20.0)
        if proc.returncode != 0:
            with open(log_path) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"engine exited with {proc.returncode}:\n{tail}")
        result = json.loads(out.strip().splitlines()[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if spans_out and "spans" in result:
        with open(spans_out, "w") as f:
            json.dump(result["spans"], f)
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (the self-test runs tiny corpora)")
    ap.add_argument("--spans-out", help="write the traced run's spans here")
    args = ap.parse_args(argv)
    t_start = time.time()

    if not os.path.isdir(os.path.join(REPO, "entity_resolver_spark")):
        print(f"engine package not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    _become_subreaper()
    _wait_for_stale_runs()
    corpus = workloads.corpus(args.workload, args.seed, args.scale)
    with open(os.path.join(corpus, "meta.json")) as f:
        _log(f"corpus {json.dumps(json.load(f))}")
    _pre_read()
    _log(f"noise_ctl_s {_noise_kernel():.4f}")
    _log(f"prepared in {time.time() - t_start:.2f}s")

    cycles, measured = [], 0.0
    deadline = t_start + DEADLINE_S
    while not cycles or measured < args.seconds:
        try:
            r = _cycle(corpus, args.trace, deadline, args.spans_out)
        except RuntimeError as e:
            print(str(e), file=sys.stderr)
            return 1
        cycles.append(r)
        _log(f"cycle {len(cycles)} ended at {time.time() - t_start:.2f}s")
        e2e = r.get("end_to_end", r["metrics"])
        measured += e2e["setup_s"] + e2e["wall_s"] + e2e["fold_s"]
        _log(f"checks_s {r['checks_s']:.2f} batch stage ms " + json.dumps(r["stage_ms"]))
        for failure in r["failures"]:
            _log(f"check failed: {failure}")
        if trace_e2e := r.get("end_to_end"):
            _log("traced end-to-end " + json.dumps(trace_e2e))

    metrics = {}
    for m in wanted:
        values = [c["metrics"][m["name"]] for c in cycles]
        metrics[m["name"]] = {"value": statistics.median(values), "unit": m["unit"]}
    attempted = sum(c["attempted"] for c in cycles)
    failed = sum(c["failed"] for c in cycles)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
