"""Self-test of the benchmark at tiny corpus sizes (about five minutes).

    python3 perfbench/selftest.py

Checks that BENCHMARK.json keeps the contract's limits, that every metric it
names is printed with its unit in both modes, that the traced run's spans
nest and their self times add up to the span durations, and that the
benchmark fails without a result line when the engine package is absent.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
# corpus size factor of the self-test's runs
SCALE = 0.15


def check_spec(spec: dict) -> None:
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }, sorted(spec)
    assert 1 <= len(spec["paths"]) <= 16
    assert 2 <= len(spec["workloads"]) <= 8
    assert 1 <= len(spec["end_to_end"]) <= 16 and 1 <= len(spec["per_layer"]) <= 128
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower"), m
        names.append(m["name"])
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names)), "metric and workload names must be unique"
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert os.path.getsize(os.path.join(REPO, "BENCHMARK.json")) <= 64 * 1024


def run(args: list[str], cwd: str = REPO) -> tuple[int, list[str]]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=200,
    )
    return out.returncode, out.stdout.strip().splitlines() or [""]


def check_result(line: str, wanted: list[dict]) -> dict:
    r = json.loads(line)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, sorted(r)
    assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1, r
    assert set(r["metrics"]) == {m["name"] for m in wanted}, sorted(
        set(r["metrics"]) ^ {m["name"] for m in wanted}
    )
    for m in wanted:
        got = r["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), got
    return r


def check_spans(spans: list[dict]) -> None:
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    assert [s["name"] for s in roots] == ["pipeline.run", "pipeline.fold"], roots
    kids: dict[int, list[dict]] = {}
    for s in spans:
        assert s["t0"] <= s["t1"], s
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["t0"] <= s["t0"] and s["t1"] <= p["t1"], ("not nested", s, p)
            kids.setdefault(p["id"], []).append(s)
    for group in kids.values():
        group.sort(key=lambda s: s["t0"])
        for a, b in zip(group, group[1:]):
            assert a["t1"] <= b["t0"], ("siblings overlap", a, b)

    def subtree_self(s: dict) -> float:
        own = (s["t1"] - s["t0"]) - sum(c["t1"] - c["t0"] for c in kids.get(s["id"], []))
        assert own >= -1e-9, s
        return own + sum(subtree_self(c) for c in kids.get(s["id"], []))

    for r in roots:
        assert abs(subtree_self(r) - (r["t1"] - r["t0"])) < 1e-6, r
    layers = {s.get("layer") for s in spans if s["kind"] == "op"}
    assert {"records", "vectors", "blocking.all_blocks", "pair_inputs",
            "scoring", "clustering"} <= layers, layers


def check_bare_checkout(workload: str) -> None:
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    for n in os.listdir(HERE):
        if os.path.isfile(os.path.join(HERE, n)):
            shutil.copy(os.path.join(HERE, n), os.path.join(bare, "perfbench"))
    try:
        code, lines = run(["--workload", workload, "--seed", "1", "--seconds", "1",
                           "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(l.startswith("{") for l in lines), (code, lines)


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_spec(spec)
    print("spec ok")
    check_bare_checkout(spec["workloads"][0]["name"])
    print("bare checkout fails cleanly")
    for w in [w["name"] for w in spec["workloads"]]:
        common = ["--workload", w, "--seed", "1", "--seconds", "1", "--scale", str(SCALE)]
        code, lines = run([*common, "--trace", "0"])
        assert code == 0, lines
        check_result(lines[-1], spec["end_to_end"])
        spans_path = os.path.join(HERE, ".work", f"selftest-spans-{w}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        code, lines = run([*common, "--trace", "1", "--spans-out", spans_path])
        assert code == 0, lines
        r = check_result(lines[-1], spec["per_layer"])
        with open(spans_path) as f:
            check_spans(json.load(f))
        os.remove(spans_path)
        share = r["metrics"]["pipeline.attributed_share"]["value"]
        print(f"{w}: both modes ok, spans nest, attributed share {share:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
