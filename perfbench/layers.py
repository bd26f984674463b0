"""Per-layer metrics of one traced pass, named after the engine's modules.

Which end-to-end metric each layer should move, and on which workload:

- ``session.*``: ``setup_s`` on both workloads.
- ``queries.*`` (build time, jobs run inside builders, py4j round trips,
  Python CPU): ``wall_s`` on iterative_driver, whose loops run inside build.
- ``plans.*`` (Catalyst phase times and the number of query executions,
  over every query the engine runs in the pass, each iteration of a driver
  loop included): ``wall_s`` on iterative_driver, which replans on every
  iteration.
- ``operators.jobs/stages/tasks``: ``wall_s`` on iterative_driver, where
  scheduling is paid per job.
- ``operators.exec_s``, executor time, shuffle and spill bytes: ``wall_s``
  and ``cpu_s`` on recsys_msd.
- ``operators.cached_bytes``: ``peak_rss_mb`` on both workloads.
- ``sources.input_*``: ``wall_s`` on both; ``sources.write_s``,
  ``output_bytes`` and ``read_s``: ``wall_s`` on recsys_msd.
- ``ml.*``: ``wall_s`` on recsys_msd only.
- ``jvm.gc_s``: ``wall_s`` and ``peak_rss_mb`` on recsys_msd; ``jvm.jit_ms``:
  ``setup_s`` and ``wall_s`` on both.
- ``op.<name>.wall_s``: attributes a change of ``wall_s`` to one query op.
- ``trace.overhead_s``: traced minus untraced pass wall (median).
"""

from __future__ import annotations

from workloads import WORKLOADS

LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.py4j_calls": "count",
    "queries.python_cpu_s": "s",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "plans.queries": "count",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.exec_s": "s",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.cached_bytes": "bytes",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    "sources.write_s": "s",
    "sources.output_bytes": "bytes",
    "sources.read_s": "s",
    "ml.index_s": "s",
    "ml.split_s": "s",
    "ml.fit_s": "s",
    "ml.fit_jobs": "count",
    "ml.recommend_s": "s",
    "ml.evaluate_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_ms": "ms",
    "trace.overhead_s": "s",
}
#: Query ops get their own wall (the recsys steps already have ml.*/sources.*).
for _wl in WORKLOADS.values():
    for _op in _wl.ops:
        if _op.execute is None:
            LAYER_UNITS[f"op.{_op.name}.wall_s"] = "s"
LAYER_NAMES = tuple(LAYER_UNITS)

#: Step ops of recsys_msd whose span duration is a layer metric.
_STEP_SPANS = {"ml.index": "ml.index_s", "ml.split": "ml.split_s",
               "ml.fit": "ml.fit_s", "ml.recommend": "ml.recommend_s",
               "ml.evaluate": "ml.evaluate_s",
               "sources.write": "sources.write_s",
               "sources.read": "sources.read_s"}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def pass_layers(spans: list[dict], jobs: dict, stages: dict,
                sample: dict) -> dict[str, float]:
    """Layer metrics of one pass from its spans (the pass span first), its
    jobs {id: {"stages": [...]}} and its stages {id: counters}."""
    out = dict.fromkeys(LAYER_NAMES, 0.0)
    pass_id = spans[0]["span_id"]
    ops = [s for s in spans if s["parent"] == pass_id]
    by_kind: dict[str, list[dict]] = {}
    for s in spans:
        by_kind.setdefault(s.get("kind"), []).append(s)

    builds = by_kind.get("build", [])
    out["queries.build_s"] = sum(map(_dur, builds))
    out["queries.build_jobs"] = sum(s["job1"] - s["job0"] for s in builds)
    out["queries.py4j_calls"] = sum(s["py4j_calls"] for s in builds)
    out["queries.python_cpu_s"] = sum(s["python_cpu_s"] for s in builds)
    out["operators.exec_s"] = sum(map(_dur, by_kind.get("execute", [])))

    for op in ops:
        phases = dict(op["phases_ms"])
        out["plans.queries"] += phases.pop("executions")
        for phase, ms in phases.items():
            out[f"plans.{phase}_ms"] += ms
        name = f"op.{op['name']}.wall_s"
        if name in out:
            out[name] = _dur(op)
        if op["name"] in _STEP_SPANS:
            out[_STEP_SPANS[op["name"]]] = _dur(op)
        if op["name"] == "ml.fit":
            out["ml.fit_jobs"] = op["job1"] - op["job0"]
    out["operators.cached_bytes"] = max(
        (op.get("cached_bytes", 0) for op in ops), default=0)

    ran = [st for st in stages.values() if not st["skipped"]]
    out["operators.jobs"] = len(jobs)
    out["operators.stages"] = len(ran)
    out["operators.tasks"] = sum(st["numCompleteTasks"] for st in ran)
    out["operators.executor_run_s"] = sum(
        st["executorRunTime"] for st in ran) / 1e3
    out["operators.executor_cpu_s"] = sum(
        st["executorCpuTime"] for st in ran) / 1e9
    out["operators.shuffle_read_bytes"] = sum(
        st["shuffleReadBytes"] for st in ran)
    out["operators.shuffle_write_bytes"] = sum(
        st["shuffleWriteBytes"] for st in ran)
    out["operators.spill_bytes"] = sum(
        st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in ran)
    out["sources.input_rows"] = sum(st["inputRecords"] for st in ran)
    out["sources.input_bytes"] = sum(st["inputBytes"] for st in ran)
    out["sources.output_bytes"] = sum(st["outputBytes"] for st in ran)
    out["jvm.gc_s"] = sample["gc_ms"] / 1e3
    out["jvm.jit_ms"] = sample["jit_ms"]
    return out
