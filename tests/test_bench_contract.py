"""Bench output-ordering contract (VERDICT r17 item 1).

The driver captures bench.py's merged stdout+stderr and parses the
FINAL line as the one-line JSON record.  r16's PERF round-over-round
comparison was lost because a non-empty regression table used to be
printed to stderr AFTER the stdout JSON, so the merged capture ended
with `REGRESSIONS vs r1 ba…` instead of the JSON.  These tests pin the
fixed ordering: even with regressions flagged, the last line of the
merged stream parses as the JSON record.
"""

from __future__ import annotations

import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _run_emit(tmp_path, regressions):
    merged = io.StringIO()  # same buffer as stdout AND stderr = merged capture
    timings = {"q_alpha": 1.2345, "q_beta": 0.5}
    errors = {}
    bench.emit_report(
        timings,
        errors,
        0.1,
        regressions,
        {},
        str(tmp_path / "bench_full.json"),
        missing=["q_beta"],
        stdout=merged,
        stderr=merged,
        codegen_compiles={"q_alpha": 0, "q_beta": 4},
    )
    return merged.getvalue(), tmp_path / "bench_full.json"


def test_json_is_last_line_with_regressions(tmp_path):
    regressions = {
        "q_alpha": {"now": 1.2345, "baseline": 0.4, "ratio": 3.09},
    }
    captured, full_path = _run_emit(tmp_path, regressions)
    lines = [ln for ln in captured.splitlines() if ln.strip()]
    # The regression note is present (first), and the LAST line is the JSON.
    assert lines[0].startswith("REGRESSIONS vs r1 baseline:")
    parsed = json.loads(lines[-1])
    assert parsed["metric"] == "sum_sec_all_declared_queries"
    assert parsed["unit"] == "sec"
    assert parsed["queries"] == {"q_alpha": 1.234, "q_beta": 0.5}
    assert parsed["value"] == 1.734
    # Full-precision record landed in the file with the regression table.
    full = json.loads(full_path.read_text())
    assert full["regressions_vs_baseline"] == regressions
    assert full["queries_missing_from_baseline"] == ["q_beta"]
    assert full["codegen_compiles"] == {"q_alpha": 0, "q_beta": 4}
    assert "codegen_compiles" not in parsed


def test_json_is_only_line_without_regressions(tmp_path):
    captured, _ = _run_emit(tmp_path, {})
    lines = [ln for ln in captured.splitlines() if ln.strip()]
    assert len(lines) == 1
    # the per-face compile counts stay in the file: the stdout line is
    # exactly the driver's record
    assert lines[0] == (
        '{"metric":"sum_sec_all_declared_queries","value":1.734,"unit":"sec",'
        '"sf":0.1,"queries":{"q_alpha":1.234,"q_beta":0.5}}')
