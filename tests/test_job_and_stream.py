"""spark-submit job entrypoint + extraction stream tests: both commit
the same results schema (RESULT_SCHEMA's columns) and an audit."""

from __future__ import annotations

import os
import subprocess

import pytest

PAGES = "tests/golden/pages_tiny.parquet"

pytestmark = pytest.mark.skipif(
    not os.path.exists(PAGES), reason="golden fixtures missing")


def test_job_main_with_resume(spark, tmp_path):
    from pdf_extraction_api_spark.job import main
    from pdf_extraction_api_spark.kernel.batch import RESULT_SCHEMA
    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    wh = str(tmp_path / "wh")
    assert main(["--pages", PAGES, "--warehouse", wh,
                 "--run-id", "r1"]) == 0
    # kernel input batches are bounded by bytes as well as rows
    assert spark.conf.get(
        "spark.sql.execution.arrow.maxBytesPerBatch") == "262144"
    cat = SnapshotCatalog(wh)
    results = cat.read(spark, "results")
    assert results.columns == RESULT_SCHEMA.fieldNames()
    n1 = results.count()
    assert n1 == 200
    audit = cat.read(spark, "audit")
    assert audit.groupBy("run_id").count().count() == 1

    # resume run: everything committed → no new snapshot rows
    assert main(["--pages", PAGES, "--warehouse", wh,
                 "--run-id", "r2", "--resume"]) == 0
    assert cat.read(spark, "results").count() == 200


def test_job_main_runs_kernel_once(spark, tmp_path, capsys):
    """One job.main, one kernel pass: the results write runs the
    kernel, and the audit and --stats read the committed files (no
    cache, so a second consumer of the kernel plan would re-run it)."""
    import json

    from perfbench.trace import SqlMetrics, metric_sum
    from pdf_extraction_api_spark.job import main

    sql = SqlMetrics(spark)
    assert main(["--pages", PAGES, "--warehouse", str(tmp_path / "wh"),
                 "--run-id", "once", "--stats"]) == 0
    kernel_rows = metric_sum(
        sql.new_executions(), "number of output rows",
        node_filter=lambda n: n["name"].startswith("MapInArrow"))
    assert kernel_rows == 200
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["documents"] == 200


def test_stats_of_replayed_vacuumed_run_warns(spark, tmp_path, capsys):
    """A replayed run id whose files a compaction superseded and vacuum
    reclaimed: the append is a no-op and there are no files to read,
    so --stats warns and prints no stats instead of crashing."""
    import time

    from pdf_extraction_api_spark.job import main

    wh = str(tmp_path / "wh")
    base = ["--pages", PAGES, "--warehouse", wh]
    assert main(base + ["--run-id", "r1"]) == 0
    assert main(base + ["--run-id", "m1", "--compact"]) == 0
    time.sleep(1.1)  # int-second commit stamp vs float cutoff
    assert main(base + ["--run-id", "m1", "--vacuum",
                        "--vacuum-grace", "0"]) == 0
    capsys.readouterr()
    assert main(base + ["--run-id", "r1", "--stats"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out == [
        "warning: cannot print the stats of run 'r1': its 'results' "
        "files were vacuumed after a compaction"]


def test_job_rejects_out_of_range_ints_with_usage(tmp_path, capsys):
    """Count and size flags exit 2 with usage at parse time, before any
    Spark import: a negative --vacuum-grace would let vacuum reclaim an
    in-flight append's files, --salt-partitions 0 would silently skip
    salting, --target-files 0 would fail deep inside Spark, and a
    value that is no int at all is rejected the same way."""
    from pdf_extraction_api_spark.job import main

    base = ["--pages", PAGES, "--warehouse", str(tmp_path / "wh"),
            "--run-id", "bad"]
    for flag, value in [("--salt-partitions", "0"),
                        ("--target-files", "0"),
                        ("--vacuum-grace", "-1"),
                        ("--salt-partitions", "many")]:
        with pytest.raises(SystemExit) as exc:
            main(base + [flag, value])
        assert exc.value.code == 2, (flag, value)
        err = capsys.readouterr().err
        assert err.startswith("usage:"), err
        assert f"argument {flag}:" in err, err
    assert not os.path.exists(tmp_path / "wh")


def test_spark_submit_pyfiles(tmp_path):
    """The actual north_rule launch mode: spark-submit --py-files."""
    from pdf_extraction_api_spark.job import main  # noqa: F401

    subprocess.run(
        ["python", "tools/make_pyfiles.py"], check=True,
        capture_output=True)
    env = dict(os.environ)
    env.pop("PYSPARK_DRIVER_PYTHON", None)
    res = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--py-files", "dist/engine.zip",
            "pdf_extraction_api_spark/job.py",
            "--pages", PAGES,
            "--warehouse", str(tmp_path / "wh"),
            "--run-id", "submit1",
        ],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    manifests = list((tmp_path / "wh" / "results").glob("manifest-*.json"))
    assert len(manifests) == 1


def _stage_dir(tmp_path) -> str:
    """File streaming sources need a directory, not a bare file."""
    import shutil

    d = tmp_path / "pages_dir"
    d.mkdir()
    shutil.copy(PAGES, d / "part-000.parquet")
    return str(d)


def test_streaming_extraction(spark, tmp_path):
    from pdf_extraction_api_spark.kernel.batch import RESULT_SCHEMA
    from pdf_extraction_api_spark.plans.extract import ARROW_BATCH_CONF
    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog
    from pdf_extraction_api_spark.streaming.stream import (
        start_extraction_stream,
    )

    pages_dir = _stage_dir(tmp_path)
    cat = SnapshotCatalog(str(tmp_path / "wh"))
    for key in ARROW_BATCH_CONF:  # Spark's defaults until the stream starts
        spark.conf.unset(key)
    q = start_extraction_stream(
        spark, pages_dir, cat, "stream_results",
        checkpoint_dir=str(tmp_path / "ckpt"))
    # the microbatches run the kernel under job.py's Arrow batch bounds
    for key, value in ARROW_BATCH_CONF.items():
        assert spark.conf.get(key) == value, key
    q.awaitTermination(300)
    out = cat.read(spark, "stream_results")
    # the stream commits exactly what job.main commits
    assert out.columns == RESULT_SCHEMA.fieldNames()
    assert out.count() == 200
    assert out.select("url").distinct().count() == 200
    # restart with same checkpoint: no duplicate processing
    q2 = start_extraction_stream(
        spark, pages_dir, cat, "stream_results",
        checkpoint_dir=str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert cat.read(spark, "stream_results").count() == 200
    # the streaming path emits per-partition lineage too (north_rule):
    # every input row accounted for across the microbatch audits
    audit = cat.read(spark, "stream_results_audit")
    rows = audit.groupBy().sum("input_rows", "errors").collect()[0]
    assert rows[0] == 200 and rows[1] == 0
    assert audit.select("run_id").distinct().count() >= 1
