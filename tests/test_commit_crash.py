"""Crash tests of the commit path: a job.main killed at each point
between its first data write and its last commit must leave a
warehouse that a re-run completes.

Each kill point is one subprocess that runs job.main with one catalog
method (or the os.link that commits a manifest) patched to call
os._exit(137) at that point. Each crashed
warehouse is then copied twice and re-run in-process with --resume:

- "same": the crashed command again, under the crashed run id (the
  maintenance points repeat their --compact / --vacuum command);
- "new": the next run, under a new run id, over a larger input (the
  crashed half of the golden pages plus the other half), so it has to
  commit results again.

After each re-run: the results url set equals that re-run's input with
no url twice, results show RESULT_SCHEMA's columns, Σ audit input_rows
equals the number of results rows, and every run appended to results
has an audit snapshot.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

PAGES = "tests/golden/pages_tiny.parquet"
REPO = Path(__file__).resolve().parent.parent

pytestmark = pytest.mark.skipif(
    not os.path.exists(PAGES), reason="golden fixtures missing")

KILL_POINTS = [
    "results-data-written",     # results files written, not committed
    "results-appended",         # results append returned
    "audit-data-written",       # audit files written, not committed
    "compact-rewrite-written",  # compaction files written, not committed
    "vacuum-midway",            # first unreachable file deleted
    "results-manifest-linked",  # results manifest linked, temp not removed
]
MAINTENANCE = {
    "compact-rewrite-written": ["--compact", "--target-files", "1"],
    "vacuum-midway": ["--compact", "--target-files", "1",
                      "--vacuum", "--vacuum-grace", "0"],
}


def _arm(point: str) -> None:
    """Patch the catalog so that this process exits with 137 at
    `point` (runs in the crash subprocess only)."""
    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    commit, link = SnapshotCatalog._commit, os.link
    append, unlink = SnapshotCatalog.append, Path.unlink

    def _commit(self, table, *args, **kwargs):
        # a commit follows its data write; the compaction is the only
        # results commit of a maintenance run
        if (point in ("results-data-written", "compact-rewrite-written")
                and table == "results"
                or point == "audit-data-written" and table == "audit"):
            os._exit(137)
        return commit(self, table, *args, **kwargs)

    def _link(src, dst, *args, **kwargs):
        link(src, dst, *args, **kwargs)
        if (point == "results-manifest-linked"
                and Path(dst).parent.name == "results"):
            os._exit(137)

    def _append(self, df, table, run_id):
        out = append(self, df, table, run_id)
        if point == "results-appended" and table == "results":
            os._exit(137)
        return out

    def _unlink(self, missing_ok=False):
        unlink(self, missing_ok=missing_ok)
        if point == "vacuum-midway" and self.suffix == ".parquet":
            os._exit(137)

    SnapshotCatalog._commit = _commit
    SnapshotCatalog.append = _append
    Path.unlink = _unlink
    os.link = _link


def _crash(point: str, argv: list[str]) -> None:
    """Subprocess entry: job.main(argv) with the kill point armed."""
    from pyspark.sql import SparkSession

    SparkSession.builder.master("local[2]").config(
        "spark.ui.enabled", "false").getOrCreate()
    _arm(point)
    from pdf_extraction_api_spark.job import main

    main(argv)
    sys.exit(3)  # the kill point never fired


@pytest.fixture(scope="module")
def half_pages(tmp_path_factory) -> str:
    """The first 100 golden pages: the crashed run's input."""
    import pyarrow.parquet as pq

    path = tmp_path_factory.mktemp("half") / "pages.parquet"
    pq.write_table(pq.read_table(PAGES).slice(0, 100), path)
    return str(path)


@pytest.fixture(scope="module")
def crashed(spark, tmp_path_factory, half_pages):
    """point → warehouse left by a job.main killed at that point (one
    subprocess per point, shared by both re-runs)."""
    from pdf_extraction_api_spark.job import main

    root = tmp_path_factory.mktemp("crashed")
    cache: dict[str, Path] = {}

    def get(point: str) -> Path:
        if point in cache:
            return cache[point]
        wh = root / point
        if point in MAINTENANCE:
            base = root / "base"
            if not base.exists():
                assert main(["--pages", half_pages, "--warehouse",
                             str(base), "--run-id", "c1"]) == 0
            shutil.copytree(base, wh)
            argv = ["--warehouse", str(wh), "--run-id", "m1",
                    *MAINTENANCE[point]]
        else:
            argv = ["--pages", half_pages, "--warehouse", str(wh),
                    "--run-id", "c1"]
        env = dict(os.environ)
        env.pop("PYSPARK_DRIVER_PYTHON", None)
        res = subprocess.run(
            [sys.executable, "-c",
             "from tests.test_commit_crash import _crash; "
             f"_crash({point!r}, {argv!r})"],
            cwd=REPO, env=env, capture_output=True, text=True,
            timeout=420)
        assert res.returncode == 137, res.stderr[-3000:]
        cache[point] = wh
        return wh

    return get


def _assert_committed(spark, wh: Path, urls: list[str]) -> None:
    from pdf_extraction_api_spark.kernel.batch import RESULT_SCHEMA
    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(wh))
    results = cat.read(spark, "results")
    assert results.columns == RESULT_SCHEMA.fieldNames()
    got = [r.url for r in results.select("url").collect()]
    assert sorted(got) == sorted(urls)  # every url, none twice
    audit = cat.read(spark, "audit")
    assert audit is not None, "no audit snapshot"
    assert audit.groupBy().sum("input_rows").collect()[0][0] == len(got)

    def run_ids(table, appends_only=False):
        ms = [json.loads(p.read_text())
              for p in sorted((wh / table).glob("manifest-*.json"))]
        return {m["run_id"] for m in ms
                if not (appends_only and m.get("full_snapshot"))}

    missing = run_ids("results", appends_only=True) - run_ids("audit")
    assert not missing, f"results runs without an audit: {missing}"


@pytest.mark.parametrize("rerun", ["new", "same"])
@pytest.mark.parametrize("point", KILL_POINTS)
def test_crash_then_resume(spark, tmp_path, half_pages, crashed, point,
                           rerun):
    import pyarrow.parquet as pq

    from pdf_extraction_api_spark.job import main

    wh = tmp_path / "wh"
    shutil.copytree(crashed(point), wh)
    if rerun == "new":
        pages, argv = PAGES, ["--pages", PAGES, "--run-id", "c2",
                              "--resume"]
    elif point in MAINTENANCE:
        pages, argv = half_pages, ["--run-id", "m1", *MAINTENANCE[point]]
    else:
        pages, argv = half_pages, ["--pages", half_pages, "--run-id", "c1",
                                   "--resume"]
    assert main(["--warehouse", str(wh), *argv]) == 0
    urls = pq.read_table(pages, columns=["url"]).column("url").to_pylist()
    _assert_committed(spark, wh, urls)
