"""bench.py as the ad-hoc query timer: the shared timing loop, --only
validation and the ceiling-probe widths."""

from __future__ import annotations

import os
import subprocess
import sys

import bench


def test_probe_levels_fit_the_host():
    assert bench.probe_levels(32) == (4, 16)
    assert bench.probe_levels(4) == (1, 4)


def test_time_queries_reps_and_explain(spark, tmp_path):
    reps = bench.time_queries(
        spark, ["w3_topk"], "/root/testdata/sf0.001", explain_dir=tmp_path)
    assert list(reps) == ["w3_topk"]
    assert len(reps["w3_topk"]) == bench.BENCH_REPS
    assert "Physical Plan" in (tmp_path / "w3_topk.txt").read_text()


def test_only_rejects_unknown_name_before_spark():
    # a bogus JAVA_HOME makes any session start fail with a traceback,
    # so a clean argparse exit proves validation ran first
    env = dict(os.environ, JAVA_HOME="/nonexistent")
    res = subprocess.run(
        [sys.executable, bench.__file__, "--only", "no_such_query"],
        capture_output=True, text=True, timeout=120, env=env,
    )
    assert res.returncode == 2, res.stderr[-2000:]
    assert "usage:" in res.stderr
    assert "no_such_query" in res.stderr
