"""Fast self-test of the benchmark at tiny sizes (sf0.001 tables, a
200-entity store).

    python3 perfbench/selftest.py

Checks that a query result differing from its oracle only by one unit of a
rounded decimal is accepted and any other difference is not; that every
workload runs clean and prints each end-to-end metric (plain run) or
per-layer metric (traced run) with the unit BENCHMARK.json gives it; that
traced ops carry Spark task metrics, with no job left unfinished in the
status store and, where an op repeats unchanged, the same task count in both
timed rounds; that a deliberately corrupted result is counted as a failed op
and named; and that the runner exits non-zero, printing no result, in a
directory that holds only BENCHMARK.json and the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import harness  # noqa: E402
import run  # noqa: E402
from analytics_mix import canonical, rounding_tie  # noqa: E402

TINY_SF = 0.001


def shrink(wl) -> None:
    wl.entities, wl.versions, wl.batch = 200, 2, 16


def two_rounds(wl) -> None:
    shrink(wl)
    wl.b.min_rounds = 2


def op_tasks(w: str) -> dict[str, list[float]]:
    """Spark tasks of each timed op of the traced run of ``w`` (seed 1),
    summed over the op's spans, by op name."""
    path = os.path.join(harness.OUT_DIR, f"{w}-seed1-trace1.spans.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    roots = {s["id"]: s for s in spans
             if s["parent"] is None and s.get("phase") == "timed"}
    tasks = dict.fromkeys(roots, 0.0)
    for s in spans:
        if s["op"] in tasks:
            tasks[s["op"]] += s["spark"]["tasks"]
    out: dict[str, list[float]] = {}
    for i, t in sorted(tasks.items()):
        out.setdefault(roots[i]["gate"], []).append(t)
    return out


def check_traced(w: str, spec: dict) -> None:
    res = run.run(w, seed=1, seconds=1, trace=True, sf=TINY_SF, hook=two_rounds)
    assert res["correct"] and res["failed"] == 0, res
    expect_units(res["metrics"], spec["per_layer"], f"{w} traced")
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["spark.tasks"] > 0 and m["spark.executor_run_s"] > 0, m
    with open(os.path.join(harness.OUT_DIR, f"{w}-seed1-trace1.json")) as f:
        layers = json.load(f)["layers"]
    assert layers["spark.jobs_open"] == 0, layers["spark.jobs_open"]
    if w != "bitemporal_ingest":  # every ingest cycle writes a different batch
        moved = {g: t for g, t in op_tasks(w).items() if len(set(t)) > 1}
        assert not moved, f"{w}: task counts differ between rounds: {moved}"
    print(f"ok {w} traced", flush=True)


def expect_units(metrics: dict, spec: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    assert got == want, f"{what}: printed {got}, BENCHMARK.json has {want}"
    for k, v in metrics.items():
        assert isinstance(v["value"], float), f"{what}: {k} is not a number"


def corrupt_one_result(wl) -> None:
    """Drop the last row of the fifth collected result (or add a row of
    nulls when it is empty)."""
    real = wl.b.collect
    calls = []

    def collect(df):
        rows = real(df)
        calls.append(1)
        if len(calls) != 5:
            return rows
        return rows[:-1] if rows else [(None,) * len(df.columns)]

    wl.b.collect = collect


def check_rounding_tie() -> None:
    """Adjacent cents (as at a half-cent tie) pass; other differences fail."""
    want = canonical(["k", "rev"], [(1, 475861.50), (2, 12.0)])
    assert rounding_tie(canonical(["k", "rev"], [(1, 475861.51), (2, 12.0)]), want)
    for rows in ([(1, 475861.52), (2, 12.0)], [(1, 475861.50), (2, 13.0)],
                 [(1, 475861.50), (3, 12.0)], [(1, 475861.50)]):
        assert not rounding_tie(canonical(["k", "rev"], rows), want), rows


def check_fails_without_engine() -> None:
    os.makedirs(harness.WORK_PARENT, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=harness.WORK_PARENT)
    try:
        shutil.copy(os.path.join(harness.ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
        # the runs above put the repo on PYTHONPATH for Spark's workers
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "analytics_mix",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, env=env, capture_output=True, text=True, timeout=170)
        assert p.returncode != 0, "runner succeeded without the engine"
        assert '"metrics"' not in p.stdout, "runner printed a result without the engine"
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    check_rounding_tie()
    spec = run.load_spec()
    for w in [w["name"] for w in spec["workloads"]]:
        res = run.run(w, seed=1, seconds=1, trace=False, sf=TINY_SF, hook=shrink)
        assert res["correct"] and res["failed"] == 0, res
        expect_units(res["metrics"], spec["end_to_end"], f"{w} plain")
        print(f"ok {w} plain: {res['attempted']} ops", flush=True)
        check_traced(w, spec)

    # the same inputs as the clean plain run above, so the corruption is
    # the only difference
    res = run.run("analytics_mix", seed=1, seconds=1, trace=False, sf=TINY_SF,
                  hook=corrupt_one_result)
    with open(os.path.join(harness.OUT_DIR, "analytics_mix-seed1-trace0.json")) as f:
        record = json.load(f)
    assert not res["correct"] and res["failed"] == 1, res
    assert record["failed_frac"] == 1 / res["attempted"], record["failed_frac"]
    assert "DuckDB oracle" in record["failures"][0]["error"], record["failures"]
    print(f"ok corrupted result counted: {record['failures'][0]}", flush=True)

    check_fails_without_engine()
    print("ok runner fails without the engine")
    return 0


if __name__ == "__main__":
    sys.exit(main())
