"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 8 --trace 0

Phases of a run:

1. inputs: the workload's seeded generators write its inputs (not timed);
2. set-up: Spark session start, then the workload's engine instance is
   built :data:`harness.SETUP_REPEATS` times (catalog, store pre-load),
   then one warm-up round. ``setup_s`` is session start + the median build
   + the warm-up round;
3. expectations: oracles and models the checks compare against (not timed);
4. timed phase: whole rounds until ``--seconds`` have elapsed; every op's
   output is checked.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` records spans and
prints the per-layer metrics. Full records (and spans) go to
``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import statistics
import sys
import time

sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402


def load_spec() -> dict:
    """BENCHMARK.json: the one list of workloads, metrics and units."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: float, trace: bool,
        sf: float | None = None, hook=None) -> dict:
    """Run ``workload`` and return the result record. ``hook(wl)``, if
    given, is called once the workload object exists (the self-test uses
    it to shrink sizes)."""
    mod = importlib.import_module(workload)
    bench = harness.Bench(workload, seed, seconds, trace,
                          sf if sf is not None else getattr(mod, "SF", None))
    try:
        wl = mod.Workload(bench)
        if hook is not None:
            hook(wl)
        phases = {}
        t = time.perf_counter()
        wl.prepare()
        phases["inputs_s"] = time.perf_counter() - t
        bench.start_session()
        builds = []
        for i in range(harness.SETUP_REPEATS):
            t0 = time.perf_counter()
            with bench.tracer.span("setup.build"):
                wl.build(i)
            builds.append(time.perf_counter() - t0)
        t = time.perf_counter()
        wl.expect()
        phases["expect_s"] = time.perf_counter() - t
        bench.phase = "warmup"
        t0 = time.perf_counter()
        wl.round(0)
        warmup = time.perf_counter() - t0
        bench.timed_rounds(lambda i: wl.round(i + 1))
        setup = bench.layers["session.start_s"] + statistics.median(builds) + warmup
        bench.info["setup"] = {"builds_s": builds, "warmup_s": warmup, **phases}
        timed = bench.timed_ops()
        detail = wl.detail()
        reads = bench.part_walls("read")
        bench.latency("read", reads, detail)
        # recorded, not gated: its run-to-run spread exceeds any allowed bound
        detail["read_median_s"] = statistics.median(reads) if reads else None
        e2e = {
            "setup_s": setup,
            "ops_per_s": len(bench.ok_ops()) / sum(o.wall for o in timed),
        }
        detail.update(e2e)
        spec = load_spec()
        return bench.result(
            {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]}, mod.BYPASSED, detail)
    finally:
        bench.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in load_spec()["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
