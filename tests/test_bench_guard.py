"""bench.py's plan guard: a window whose plans diverge from the
bench-scale goldens aborts with rc 2 and leaves a headline-shaped JSON
record as the last stdout line, inside the tail a log capture keeps."""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))
import bench  # noqa: E402


class _KeepAlive:
    """The guard stops the session it aborts; the suite's is shared."""

    def stop(self) -> None:
        pass


def test_plan_guard_abort_line_survives_output_tail(spark, tmp_path,
                                                    monkeypatch, capsys):
    golden = tmp_path / "golden_plans_sf01"
    golden.mkdir()
    names = [f"drifted_query_{i:02d}" for i in range(len(bench.HEADLINE))]
    for name in names:
        (golden / f"{name}.txt").write_text(
            "== Physical Plan ==\nAdaptiveSparkPlan\n+- Scan parquet\n")
    registry = {n: SimpleNamespace(builder=lambda _s, _d: spark.range(3))
                for n in names}
    monkeypatch.setattr(bench, "SF01_GOLDEN_DIR", str(golden))
    monkeypatch.setattr(bench.plans, "REGISTRY", registry)
    monkeypatch.delenv("SPARK_GRAFT_SKIP_PLAN_GUARD", raising=False)
    with pytest.raises(SystemExit) as exit_:
        bench._plan_guard(_KeepAlive(), "/data/sf0.1", names)
    assert exit_.value.code == 2
    out, err = capsys.readouterr()
    assert "PLAN GUARD" in err
    # stdout alone, and stderr+stdout as one stream (the diff goes first)
    for stream in (out, err + out):
        tail = stream.encode()[-1500:].decode(errors="replace")
        record = json.loads(tail.strip().splitlines()[-1])
        assert record["error"] == "plan_guard"
        assert record["diverged"] == names
        assert record["metric"] == "headline_queries_total"
