"""Run context shared by the workloads: pinned environment, Spark session,
op records with checks, statistics and the result record."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

from tracer import Tracer, covered, pinned_mb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
OUT_DIR = os.path.join(BENCH_DIR, "out")
WORK_PARENT = os.path.join(BENCH_DIR, ".work")
DRIVER_MEM = "3g"
SETUP_REPEATS = 3


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> None:
    """Pin everything the engine reads from the environment: local[nproc],
    default shuffle partitions, a bounded driver heap, no engine overrides,
    the repo on the Python workers' path, temp and spill dirs under
    ``work``."""
    for k in list(os.environ):
        if k.startswith("CRUX_SPARK_") or k == "SPARK_GRAFT_SHUFFLE":
            del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # keeps the launcher JVM that spark-submit starts from writing its
    # perf-data file to the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def box_probe(work: str) -> dict:
    """Sub-second box fingerprint stored with every result: sequential
    write and read MB/s of a 32 MiB file under ``work`` and single-core
    sha256 throughput."""
    path = os.path.join(work, "probe.bin")
    buf = os.urandom(1 << 20) * 32
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    write = 32 / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    with open(path, "rb") as f:
        while f.read(1 << 22):
            pass
    read = 32 / (time.perf_counter() - t0)
    os.unlink(path)
    h, n, t0 = b"x" * 64, 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.25:
        for _ in range(1000):
            h = hashlib.sha256(h).digest()
        n += 1000
    return {"write_mb_s": round(write, 1), "read_mb_s": round(read, 1),
            "sha256_kops_s": round(n / (time.perf_counter() - t0) / 1e3, 1)}


def pct(values: list[float], q: float) -> float | None:
    """The q-quantile, or None unless at least ten samples lie beyond it."""
    if len(values) * (1 - q) < 10:
        return None
    if q == 0.5:
        return statistics.median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Op:
    """One op: its kind, name, phase, wall time, timed parts and outcome."""

    def __init__(self, kind: str, name: str, phase: str):
        self.kind, self.name, self.phase = kind, name, phase
        self.wall = 0.0
        self.parts: list[tuple[str, float]] = []
        self.error: str | None = None
        self.span: dict | None = None
        self.size = 0

    def fail(self, reason: str) -> None:
        if self.error is None:
            self.error = reason


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 sf: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.sf = trace, sf
        self.ops: list[Op] = []
        self.min_rounds = 1
        self.phase = "setup"
        self.layers: dict[str, float] = {}
        self.info: dict = {}
        self.pinned: list[float] = []
        self.spark = None
        self.tracer: Tracer | None = None
        os.makedirs(WORK_PARENT, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=WORK_PARENT)
        pin_env(self.work)

    # -- session ----------------------------------------------------------

    def start_session(self) -> None:
        self.info["box_probe"] = box_probe(self.work)
        from crux_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            cpus=cores(),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, self.trace)

    def close(self) -> None:
        """Stop Spark, end the JVM it launched and wait for it, and remove
        the run's working directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gw = SparkContext._gateway
                proc = getattr(gw, "proc", None)
                self.spark.stop()
                if gw is not None:
                    gw.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    # -- ops ----------------------------------------------------------------

    @contextlib.contextmanager
    def op(self, kind: str, name: str):
        """Run one op: time it, give it a root span, and record any
        exception as that op's failure instead of ending the run."""
        rec = Op(kind, name, self.phase)
        self.ops.append(rec)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}", gate=name, phase=self.phase) as sp:
                rec.span = sp
                yield rec
        except Exception as e:
            rec.fail(f"{type(e).__name__}: {e}"[:300])
            traceback.print_exc(file=sys.stderr)
        finally:
            rec.wall = time.perf_counter() - t0
            if self.trace:
                t1 = time.perf_counter()
                self.pinned.append(pinned_mb(self.spark))
                self.tracer.overhead_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def part(self, op: Op, name: str):
        """Time a named part of an op (a write or a read)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            op.parts.append((name, time.perf_counter() - t0))

    def collect(self, df) -> list:
        """Collect ``df``. Traced, Catalyst planning is forced first in its
        own span (the action then reuses that plan), then the collect."""
        if self.trace:
            with self.tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.tracer.span("collect") as sp:
                rows = df.collect()
                sp["rows"] = len(rows)
            return rows
        return df.collect()

    def timed_rounds(self, run_round) -> None:
        """The timed phase: whole rounds, so every run measures the same op
        mix, until ``seconds`` have elapsed, and at least ``min_rounds``
        rounds."""
        self.phase = "timed"
        t0, o0 = time.perf_counter(), self.tracer.overhead_s
        i = 0
        while i < self.min_rounds or time.perf_counter() - t0 < self.seconds:
            run_round(i)
            i += 1
        self.info["timed_wall_s"] = time.perf_counter() - t0
        self.info["trace_overhead_s"] = self.tracer.overhead_s - o0
        self.info["rounds"] = i

    # -- results ------------------------------------------------------------

    def timed_ops(self) -> list[Op]:
        return [o for o in self.ops if o.phase == "timed"]

    def ok_ops(self) -> list[Op]:
        return [o for o in self.timed_ops() if o.error is None]

    def part_walls(self, prefix: str) -> list[float]:
        return [w for o in self.ok_ops() for n, w in o.parts if n.startswith(prefix)]

    def latency(self, name: str, values: list[float], out: dict) -> None:
        """Median and p90 of ``values`` under ``name``, each only when at
        least ten samples lie beyond it, with the samples and their count."""
        out[f"{name}_n"] = len(values)
        out[f"{name}_samples_s"] = values
        for q in (0.5, 0.9):
            v = pct(values, q)
            if v is not None:
                out[f"{name}_p{round(q * 100)}_s"] = v

    def layer_metrics(self) -> dict:
        """Per-layer metrics of the timed phase from the spans: seconds and
        counts per completed op, Spark totals per op, ratios."""
        ops = [o for o in self.ok_ops() if o.span is not None]
        n = max(len(ops), 1)
        ids = {o.span["id"] for o in ops}
        spans = [s for s in self.tracer.spans if s["op"] in ids]
        out = dict(self.layers)
        builds = [s["id"] for s in self.tracer.spans if s["name"] == "setup.build"]
        for name in {s["name"] for s in self.tracer.spans if s["parent"] in builds}:
            out[name + "_s"] = statistics.median(
                s["end"] - s["start"] for s in self.tracer.spans
                if s["name"] == name and s["parent"] in builds)
        by_name: dict[str, float] = {}
        calls: dict[str, int] = {}
        for s in spans:
            if s["parent"] is None:
                continue
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + s["end"] - s["start"]
            calls[s["name"]] = calls.get(s["name"], 0) + 1
        for name, total in by_name.items():
            out[name + ("_s" if "." in name else ".s")] = total / n
        spark_tot: dict[str, float] = {}
        for s in spans:
            for k, v in s["spark"].items():
                if k not in ("task_skew", "job_wall_s"):
                    spark_tot[k] = spark_tot.get(k, 0.0) + v
        for k, v in spark_tot.items():
            out[f"spark.{k}"] = v / n
        wall = sum(o.wall for o in ops)
        out["spark.busy_frac"] = spark_tot.get("executor_run_s", 0.0) / max(wall * cores(), 1e-9)
        skews = []
        for o in ops:
            mine = [s["spark"]["task_skew"] for s in spans if s["op"] == o.span["id"]]
            if any(mine):
                skews.append(max(mine))
        out["spark.task_skew"] = statistics.median(skews) if skews else 0.0
        col = [s for s in spans if s["name"] == "collect"]
        if col:
            out["collect.rows"] = sum(s.get("rows", 0) for s in col) / n
            out["collect.driver_s"] = sum(
                s["end"] - s["start"] - s["spark"]["job_wall_s"] for s in col) / n
        if "datalog.build" in calls:
            out["datalog.build_calls"] = calls["datalog.build"] / n
        out["spark.pinned_mb_peak"] = max(self.pinned, default=0.0)
        out["spark.pinned_mb_end"] = self.pinned[-1] if self.pinned else 0.0
        cov = []
        for o in ops:
            kids = [(s["start"], s["end"]) for s in spans if s["parent"] == o.span["id"]]
            cov.append(covered(kids, o.span["start"], o.span["end"]) / max(o.wall, 1e-9))
        out["trace.coverage"] = statistics.median(cov) if cov else 0.0
        out["trace.overhead_frac"] = self.info["trace_overhead_s"] / self.info["timed_wall_s"]
        return out

    def result(self, end_to_end: dict, per_layer_units: dict, bypassed: set,
               detail: dict) -> dict:
        """The final stdout record plus the full record written to
        ``perfbench/out``. ``end_to_end`` maps metric -> (value, unit);
        ``per_layer_units`` maps the per-layer metrics to their units.
        A traced run prints 0 for the per-layer metrics in ``bypassed``
        (layers the workload never calls); every other one must have been
        measured, and none of ``bypassed`` may have been."""
        attempted = len(self.ops)
        failures = [{"op": o.name, "phase": o.phase, "error": o.error}
                    for o in self.ops if o.error is not None]
        record = {
            "workload": self.workload, "seed": self.seed, "sf": self.sf,
            "seconds": self.seconds, "trace": int(self.trace),
            "cores": cores(), "driver_mem": DRIVER_MEM,
            "attempted": attempted, "failed": len(failures),
            "failed_frac": len(failures) / max(attempted, 1),
            "failures": failures, **self.info, **detail,
        }
        if self.trace:
            layers = self.layer_metrics()
            record["layers"] = layers
            missing = sorted(k for k in per_layer_units
                             if k not in layers and k not in bypassed)
            ran = sorted(k for k in bypassed if k in layers)
            if missing or ran:
                raise RuntimeError(f"{self.workload}: per-layer metrics not measured "
                                   f"{missing}; measured but declared bypassed {ran}")
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in per_layer_units.items()}
        else:
            metrics = {k: {"value": float(v), "unit": u}
                       for k, (v, u) in end_to_end.items()}
        record["metrics"] = metrics
        os.makedirs(OUT_DIR, exist_ok=True)
        stem = os.path.join(OUT_DIR, f"{self.workload}-seed{self.seed}-trace{int(self.trace)}")
        if self.trace:
            untraced = stem[:-1] + "0.json"
            if os.path.exists(untraced):
                with open(untraced) as f:
                    base = json.load(f)["metrics"]["ops_per_s"]["value"]
                record["trace_ops_per_s_vs_untraced"] = detail["ops_per_s"] / base
            with open(stem + ".spans.jsonl", "w") as f:
                for s in self.tracer.spans:
                    f.write(json.dumps(s) + "\n")
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1, default=str)
        for fl in failures:
            print(f"# FAILED {fl['phase']} op {fl['op']}: {fl['error']}", file=sys.stderr)
        return {"correct": not failures, "attempted": attempted,
                "failed": len(failures), "metrics": metrics}
