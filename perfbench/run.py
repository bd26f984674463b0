"""Benchmark of the engine: one workload per run, closed loop, one client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload recsys_msd --seed 1 --seconds 10 \
        --trace 0

A run generates its seeded inputs (cached under ``.perfbench_cache/``, not
timed), starts a local session on ``local[nproc]`` and runs the workload's
warm-up passes (together the set-up), then repeats timed passes for
``--seconds``. Every pass's outputs are checked outside the timed region.

``--trace 0`` reports the end-to-end metrics: ``setup_s``, ``wall_s`` (median
pass wall), ``cpu_s`` (median CPU seconds of the Python driver plus the JVM
per pass, from /proc) and ``peak_rss_mb`` (VmHWM of both). ``--trace 1``
runs passes in untraced, traced, traced, untraced blocks and reports the
per-layer metrics of the traced passes (medians), the tracing overhead and a
span file.

The last line of standard output is the single result JSON object; human
readable lines come before it, and the run record (box, tables, samples) and
spans are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import statistics
import sys
import time
import traceback

from layers import LAYER_NAMES, LAYER_UNITS, pass_layers
from tracing import (PlanPhases, StatusStore, Tracer, proc_cpu_s,
                     proc_hwm_mb, steal_s)
from workloads import WORKLOADS, Ctx, collect, in_child

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")

#: Driver heap for the local session. The engine's default (32g) does not
#: fit a 4-core, 15 GB box shared with other work, and the inputs are a few
#: MB. The heap grows to a different size on every run: over five seeds
#: of iterative_driver, peak RSS spread about 20% with a 2g heap, 13% with
#: 1g and 7% with 512m.
DRIVER_MEM = "512m"

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


@contextlib.contextmanager
def _stdout_to_stderr():
    """Point fd 1 at stderr while the engine runs, so nothing the JVM or a
    library prints can land after (or inside) the result line."""
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        yield
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)


def _local_env() -> None:
    """Keep every temporary file of Python, the JVM and Spark inside the
    checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_SUBMIT_OPTS"] = opts
    os.environ["SPARK_LAUNCHER_OPTS"] = opts
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")


def _start_session(trace: bool):
    from ds_ga1004_bigdata_project_spark.session import get_local_session

    conf = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"]}
    if trace:
        # The default retention (100) truncates passes that run many jobs.
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"})
    spark = get_local_session(_nproc(), driver_mem=DRIVER_MEM,
                              app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _box(spark) -> dict:
    jvm = spark.sparkContext._jvm
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": _nproc(), "ram_gb": round(mem_kb / 2**20, 1),
            "pyspark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "driver_mem": DRIVER_MEM}


class Runner:
    """Runs passes of one workload in one session and keeps the samples."""

    def __init__(self, spark, workload, ctx, gate, trace: bool, run_id: str):
        self.wl, self.ctx, self.gate = workload, ctx, gate
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        self.tracer = Tracer(spark, run_id) if trace else None
        self.store = StatusStore(spark) if trace else None
        self.plans = PlanPhases(spark) if trace else None
        self.attempted = 0
        self.failures: list[dict] = []

    # -- one pass ---------------------------------------------------------
    def _cpu(self) -> float:
        return proc_cpu_s() + proc_cpu_s(self.jvm_pid)

    def _op(self, op, traced: bool):
        ctx = self.ctx
        if not traced:
            built = op.build(ctx)
            ctx.state[op.name] = built
            return collect(built) if op.execute is None \
                else op.execute(ctx, built)
        tr = self.tracer
        try:
            with tr.span(op.name, kind="op") as rec:
                with tr.span("build", kind="build"):
                    built = op.build(ctx)
                ctx.state[op.name] = built
                if op.execute is None:
                    with tr.span("plan", kind="plan"):
                        built._jdf.queryExecution().executedPlan()
                    with tr.span("execute", kind="execute"):
                        return collect(built)
                with tr.span("execute", kind="execute"):
                    return op.execute(ctx, built)
        finally:
            with tr.paused():
                rec["phases_ms"] = self.plans.drain()
                rec["cached_bytes"] = self.store.cached_bytes()

    def run_pass(self, traced: bool = False, timed: bool = True) -> dict:
        """One pass over the workload's ops; returns its sample."""
        outputs, errors = {}, {}
        if traced:
            with self.tracer.paused():
                self.plans.attach()
                gc0, jit0 = self.store.gc_ms(), self.store.jit_ms()
        cpu0, t0 = self._cpu(), time.perf_counter()
        span = (self.tracer.span(self.wl.name, kind="workload") if traced
                else contextlib.nullcontext({}))
        with span as pass_rec:
            for op in self.wl.ops:
                try:
                    outputs[op.name] = self._op(op, traced)
                except Exception as exc:  # an op failure is counted, not fatal
                    traceback.print_exc()
                    errors[op.name] = f"{type(exc).__name__}: {exc}"
        wall, cpu = time.perf_counter() - t0, self._cpu() - cpu0
        sample = {"wall_s": wall, "cpu_s": cpu, "traced": traced}
        if traced:
            with self.tracer.paused():
                self.plans.detach()
                sample["gc_ms"] = self.store.gc_ms() - gc0
                sample["jit_ms"] = self.store.jit_ms() - jit0
                sample["layers"] = self._layers(pass_rec, sample)
        if timed:
            bad = self._check(outputs)
            bad.update(errors)
            self.attempted += len(self.wl.ops)
            self.failures += [{"op": k, "error": v} for k, v in bad.items()]
            sample["failed"] = sorted(bad)
        self.ctx.end_pass()
        return sample

    def _check(self, outputs: dict) -> dict[str, str]:
        try:
            return self.gate.check(self.ctx, outputs)
        except Exception as exc:  # a broken check fails every op it covers
            traceback.print_exc()
            return {name: f"check raised {type(exc).__name__}: {exc}"
                    for name in outputs}

    # -- per-layer metrics of one traced pass ------------------------------
    def _layers(self, pass_rec: dict, sample: dict) -> dict[str, float]:
        spans = [s for s in self.tracer.spans
                 if s["span_id"] >= pass_rec["span_id"]]
        jobs = self.store.jobs(pass_rec["job0"], pass_rec["job1"])
        stages = {}
        for job in jobs.values():
            for sid in job["stages"]:
                if sid not in stages:
                    stages[sid] = self.store.stage(sid)
        return pass_layers(spans, jobs, stages, sample)

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.close()


def abba_overhead(walls: list[float]) -> tuple[float, float]:
    """Tracing overhead and pass-to-pass drift from pass walls run in
    untraced, traced, traced, untraced blocks. Per block the overhead is the
    mean traced wall minus the mean untraced wall, which cancels a drift
    that is linear over the block, and the drift is the gap between the
    block's two untraced passes; both are medians over the blocks."""
    blocks = [walls[i:i + 4] for i in range(0, len(walls) - 3, 4)]
    over = [(b[1] + b[2] - b[0] - b[3]) / 2 for b in blocks]
    drift = [abs(b[3] - b[0]) for b in blocks]
    return statistics.median(over), statistics.median(drift)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import ds_ga1004_bigdata_project_spark  # noqa: F401 (fail fast if absent)

    wl = WORKLOADS[workload]
    _local_env()
    # Staged in a child so generation never counts in this process's RSS.
    data_dir, tables = in_child(wl.stage, seed, CACHE)
    gate = wl.gate(data_dir)
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    work_dir = os.path.join(CACHE, "work", run_id)

    t0 = time.perf_counter()
    spark = _start_session(trace)
    runner = None
    try:
        t1 = time.perf_counter()
        ctx = Ctx(spark, data_dir, work_dir)
        runner = Runner(spark, wl, ctx, gate, trace, run_id)
        for _ in range(wl.warmup_passes):  # JIT, codegen, caches
            runner.run_pass(timed=False)
        t2 = time.perf_counter()
        box = _box(spark)

        steal0 = steal_s()
        samples, elapsed = [], 0.0
        while (len(samples) < wl.min_passes or elapsed < seconds
               or (trace and len(samples) % 4)):
            s = runner.run_pass(traced=trace and len(samples) % 4 in (1, 2))
            samples.append(s)
            elapsed += s["wall_s"]
        steal = steal_s() - steal0
        rss = {"python": proc_hwm_mb(), "jvm": proc_hwm_mb(runner.jvm_pid)}
        if trace:
            os.makedirs(OUT, exist_ok=True)
            spans_path = os.path.join(OUT, f"spans-{run_id}.jsonl")
            runner.tracer.write(spans_path)
    finally:
        if runner is not None:
            runner.close()
        _stop_session(spark)

    untraced = [s for s in samples if not s["traced"]]
    record = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "box": box, "tables": tables,
        "setup": {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1},
        "peak_rss_mb": rss, "steal_s": steal,
        "samples": samples, "attempted": runner.attempted,
        "failures": runner.failures,
    }
    e2e = {
        "setup_s": t2 - t0,
        "wall_s": statistics.median([s["wall_s"] for s in untraced]),
        "cpu_s": statistics.median([s["cpu_s"] for s in untraced]),
        "peak_rss_mb": rss["python"] + rss["jvm"],
    }
    record["end_to_end"] = e2e
    if trace:
        traced = [s for s in samples if s["traced"]]
        layers = {name: statistics.median(s["layers"][name] for s in traced)
                  for name in LAYER_NAMES}
        layers.update(record["setup"])
        over, drift = abba_overhead([s["wall_s"] for s in samples])
        layers["trace.overhead_s"] = over
        record["trace_drift_s"] = drift
        record["per_layer"] = layers
        record["spans"] = os.path.relpath(spans_path, ROOT)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"run-{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return record


def _report(record: dict, trace: bool) -> dict:
    failed = len(record["failures"])
    attempted = record["attempted"]
    print(f"workload {record['workload']}  seed {record['seed']}  "
          f"passes {len(record['samples'])}  box {record['box']}")
    print(f"  tables {json.dumps(record['tables'], sort_keys=True)}")
    for name, v in record["end_to_end"].items():
        print(f"  {name:<14} {v:12.4f} {E2E_UNITS[name]}")
    print(f"  {'failed_ratio':<14} {failed / attempted:12.4f} "
          f"({failed}/{attempted})")
    for f in record["failures"]:
        print(f"  ENGINE DEFECT  {f['op']}: {f['error']}")
    if trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in record["per_layer"].items()}
        for k, m in metrics.items():
            print(f"  {k:<40} {m['value']:16.4f} {m['unit']}")
        drift = record["trace_drift_s"]
        if abs(record["per_layer"]["trace.overhead_s"]) < drift:
            print(f"  trace.overhead_s unresolved: smaller than the "
                  f"pass-to-pass drift ({drift:.4f} s)")
        print(f"  spans {record['spans']}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in record["end_to_end"].items()}
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="measure at least this long (and at least the "
                         "workload's minimum number of passes)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    with _stdout_to_stderr():
        record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    result = _report(record, bool(args.trace))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
