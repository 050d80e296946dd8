"""tools/phase_report.py: per-query build/exec jobs and answer hash."""

from __future__ import annotations

import importlib.util
import os

from .conftest import SF_SMALL

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "phase_report.py")


def test_phase_report_rounds_agree(spark):
    spec = importlib.util.spec_from_file_location("phase_report", TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    rows = tool.report(spark, SF_SMALL, ["pricing_summary"], rounds=2)
    assert [(r["round"], r["query"]) for r in rows] == [
        (1, "pricing_summary"), (2, "pricing_summary")]
    assert set(rows[0]) == set(tool.COLUMNS)
    assert rows[0]["md5"] == rows[1]["md5"]
    assert rows[0]["rows"] > 0
    assert all(r["exec_jobs"] >= 1 for r in rows)
