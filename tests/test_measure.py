"""bench.py's timing core, shared by tools/opt_measure.py,
tools/scale_probe.py and tools/plan_gallery.py. The tools' main()s are
never called here: each one stops its session, which is this suite's
shared one."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_time_noop_returns_one_positive_time_per_run(spark):
    import bench

    times = bench.time_noop(lambda: spark.range(8), 3)
    assert len(times) == 3
    assert all(isinstance(t, float) and t > 0 for t in times)


def test_plan_text_is_the_formatted_plan(spark):
    import bench

    assert "Physical Plan" in bench.plan_text(spark.range(8))


def test_importing_the_harnesses_starts_no_job(spark, monkeypatch):
    monkeypatch.syspath_prepend(str(REPO / "tools"))
    sc = spark.sparkContext
    sc.setJobGroup("harness-import", "importing the timing harnesses")
    try:
        for name in ("bench", "opt_measure", "plan_gallery", "scale_probe"):
            sys.modules.pop(name, None)
            importlib.import_module(name)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup("harness-import") == []


def test_r01_timings_only_at_their_scale_factor(monkeypatch):
    import bench

    monkeypatch.setattr(bench, "SF_DIR", "/data/sf0.001")
    assert bench._sf() == 0.001
    assert bench._load_r01_timings() == {}
    monkeypatch.setattr(bench, "SF_DIR", "/data/sf0.1/")
    assert bench._sf() == 0.1
    r01 = bench._load_r01_timings()
    assert r01 and set(bench.HEADLINE_R01) <= set(r01)
