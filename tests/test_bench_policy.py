"""bench-v3 policy pins (BASELINE.md "Bench methodology"): the close-mode
min-merge semantics and the frozen policy constants. These constants are
the methodology version — a change here is a new policy version and a
BASELINE.md row, not a tweak."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench.py"))
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_spec and bench)


def test_policy_constants_frozen():
    assert bench.RETIME_UNDER == 8.0
    assert bench.RETIME_OVER_FACTOR == 1.5
    assert bench.BENCH_POLICY == "bench-v3"


def test_merge_min_takes_per_query_minimum():
    acc: dict[str, float] = {}
    bench.merge_min(acc, {"q1": 5.0, "q2": 3.0})
    bench.merge_min(acc, {"q1": 4.2, "q2": 7.0, "q3": 1.0})
    bench.merge_min(acc, {"q1": 6.1, "q2": 2.9})
    assert acc == {"q1": 4.2, "q2": 2.9, "q3": 1.0}


def test_merge_min_failed_pass_is_overridden_by_success():
    acc: dict[str, float] = {}
    bench.merge_min(acc, {"q1": -1.0})
    assert acc == {"q1": -1.0}          # all passes failed so far
    bench.merge_min(acc, {"q1": 4.0})
    assert acc == {"q1": 4.0}           # success overrides failure
    bench.merge_min(acc, {"q1": -1.0})
    assert acc == {"q1": 4.0}           # later failure never regresses


def test_box_controls_geometric_index_and_pins():
    # The pins are the r12 fastest same-tree close walls (BASELINE.md
    # "Box-speed controls") — frozen until a control's PLAN changes.
    assert bench.CONTROL_REF == {"q01_top_parts": 0.75,
                                 "q06_join_chain_revenue": 1.52}
    out = bench.box_controls({"q01_top_parts": 0.912,
                              "q06_join_chain_revenue": 1.903,
                              "q99_other": 2.0})
    # geometric mean of (0.912/0.75, 1.903/1.52) — the committed r12
    # close reproduces the judge's quoted 1.24x control factor.
    assert out["box_index"] == 1.234
    assert out["controls"] == {"q01_top_parts": 0.912,
                               "q06_join_chain_revenue": 1.903}
    assert "q99_other" not in out["controls"]


def test_box_controls_unreadable_on_missing_or_failed_control():
    assert bench.box_controls({"q01_top_parts": 0.9})["box_index"] == -1.0
    assert bench.box_controls({"q01_top_parts": -1.0,
                               "q06_join_chain_revenue": 1.9}
                              )["box_index"] == -1.0


def test_stdout_last_line_is_the_payload(monkeypatch, tmp_path, capsys):
    """Stdout contract: a summary line, then the full JSON payload as the
    LAST line. The summary carries none of the payload keys, so a parser
    that takes the first JSON object on stdout fails loudly."""
    times = {"q01_top_parts": 0.9, "q06_join_chain_revenue": 1.8,
             "q99_data_quality_report": 2.0}
    monkeypatch.setattr(bench, "run_suite", lambda sf_dir, cpus: dict(times))
    monkeypatch.setattr(bench.sys, "argv", ["bench.py"])
    monkeypatch.setenv("SPARK_GRAFT_BENCH_OUT", str(tmp_path / "bench.json"))
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 2
    summary, payload = (json.loads(ln) for ln in lines)
    assert payload["metric"] == "engine_query_suite_seconds"
    assert payload["value"] == 4.7
    assert payload["queries"] == times
    assert not {"metric", "value", "queries"} & set(summary)

