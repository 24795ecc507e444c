"""Spark pipeline ⇔ golden fixtures: per-url byte-equality (the
north_star invariant), plan-shape checks, lineage, resume, determinism
across parallelism levels."""

from __future__ import annotations

import os

import pytest

GOLDEN = "tests/golden/golden_tiny.parquet"
PAGES = "tests/golden/pages_tiny.parquet"

pytestmark = pytest.mark.skipif(
    not (os.path.exists(GOLDEN) and os.path.exists(PAGES)),
    reason="golden fixtures not generated (python -m tests.make_golden)",
)


def _norm_table(t: dict) -> tuple:
    return (
        t["page"], t["table_index"], t["method"],
        tuple(tuple(r) for r in t["cells"]),
        bytes(t["csv_bytes"]), t["table_type"],
        round(t["quality_score"], 12), t["rows"], t["columns"],
        round(t["numeric_percentage"], 12),
        round(t["empty_cell_percentage"], 12),
        tuple(sorted(dict(t["metadata"]).items())),
        t["content_hash"],
    )


def _norm_row(row) -> tuple:
    d = row.asDict(recursive=True)
    return (
        d["n_pages"],
        bytes(d["extracted_text"]),
        tuple(_norm_table(t) for t in d["tables"]),
        tuple((s["kind"], s["page"], s["start"], s["end"])
              for s in d["spans"]),
    )


def _collect_results(spark, pages_path, **kw) -> dict:
    from pdf_extraction_api_spark.plans.extract import (
        load_pages,
        run_extraction,
    )

    results = run_extraction(load_pages(spark, pages_path), **kw)
    return {r["url"]: _norm_row(r) for r in results.collect()}


@pytest.fixture(scope="module")
def golden_map(spark):
    rows = spark.read.parquet(GOLDEN).collect()
    return {r["url"]: _norm_row(r) for r in rows}


def test_byte_equality_vs_golden(spark, golden_map):
    got = _collect_results(spark, PAGES)
    assert set(got) == set(golden_map)
    mismatches = [u for u in golden_map if got[u] != golden_map[u]]
    assert mismatches == [], mismatches[:3]


def test_determinism_across_parallelism(spark, golden_map):
    """Quirk #8 fix: same bytes regardless of partitioning (the
    in-sandbox proxy for N vs 4N executors)."""
    low = _collect_results(spark, PAGES, salt_partitions=2)
    high = _collect_results(spark, PAGES, salt_partitions=32)
    assert low == high == golden_map


def test_dup_body_memo_preserves_urls(spark, tmp_path):
    """The round-6 plan-path dup-body memo caches kernel results by
    html BYTES; a memo hit under a DIFFERENT url must re-stamp the
    url while sharing the body results. Three urls share one body in
    one partition (so one worker's memo serves all three) — each
    output row must carry its own url, identical extraction, and the
    url must never leak from the first-seen row."""
    import pyarrow.parquet as pq

    from pdf_extraction_api_spark.plans.extract import (
        load_pages,
        run_extraction,
    )

    rows = pq.read_table(PAGES).to_pylist()[:4]
    shared = rows[0]["html"]
    data = [
        ("https://a.example/1", shared),
        ("https://b.example/2", shared),
        ("https://c.example/3", shared),
        ("https://d.example/other", rows[1]["html"]),
    ]
    spark.createDataFrame(
        data, "url STRING, html BINARY"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "p"))
    out = {
        r["url"]: r
        for r in run_extraction(
            load_pages(spark, str(tmp_path / "p")), with_lineage=False
        ).collect()
    }
    assert set(out) == {u for u, _ in data}
    bodies = {u: (bytes(out[u]["extracted_text"]), out[u]["n_tables"])
              for u in out}
    assert (bodies["https://a.example/1"]
            == bodies["https://b.example/2"]
            == bodies["https://c.example/3"])


def test_column_pruning_reaches_scan(spark):
    """Metrics-only consumers must not deserialize html (SURVEY.md §4):
    the kernel input scan must read only url+html; a count over results
    metadata keeps the nested work but the *pages* scan schema is what
    we assert on."""
    from pdf_extraction_api_spark.plans.extract import (
        load_pages,
        run_extraction,
    )

    pages = load_pages(spark, PAGES)
    plan = run_extraction(pages)._jdf.queryExecution().executedPlan().toString()
    assert "warc_ts" not in plan  # pruned
    assert "ReadSchema" in plan
    # the scan reads exactly url + html
    read_schema = [ln for ln in plan.split("\n") if "ReadSchema" in ln][0]
    assert "url" in read_schema and "html" in read_schema
    assert "lang" not in read_schema and "text" not in read_schema


def test_lineage_audit(spark, tmp_path):
    from pdf_extraction_api_spark.plans.extract import (
        audit_metrics,
        load_pages,
        run_extraction,
    )

    results = run_extraction(load_pages(spark, PAGES))
    audit = audit_metrics(results, run_id="testrun").collect()
    assert sum(r["input_rows"] for r in audit) == 200
    assert all(r["run_id"] == "testrun" for r in audit)
    assert sum(r["errors"] for r in audit) == 0
    assert sum(r["bytes_in"] for r in audit) > 0


def test_null_and_garbage_html_never_kill_the_job(spark, tmp_path):
    """Robustness: NULL html, empty bytes and raw garbage must flow
    through the kernel as rows (error column set or empty result),
    never fail the task — one bad crawl record can't take down a
    100 TB job."""
    from pyspark.sql import functions as F

    from pdf_extraction_api_spark.plans.extract import (
        audit_metrics,
        run_extraction,
    )

    rows = [("u1", None), ("u2", b""), ("u3", b"\xff\xfe garbage \x00"),
            ("u4", b"<p>fine content row long enough here.</p>")]
    pages = spark.createDataFrame(rows, "url STRING, html BINARY")
    res = run_extraction(pages)
    got = {r.url: r for r in res.collect()}
    assert set(got) == {"u1", "u2", "u3", "u4"}
    assert got["u4"].n_tables == 0 and got["u4"].extracted_text
    audit = audit_metrics(res, "robust").collect()
    assert sum(r["input_rows"] for r in audit) == 4


def test_salting_defuses_megadoc_skew(spark, tmp_path):
    """north_rule: explicit salting for mega-document skew. A
    pathological layout (one sorted file, all mega docs first) leaves
    the scan's byte-balanced splits with most KERNEL TIME in one
    partition; salt_partitions spreads the mega docs by url hash.
    Evidence from the lineage audit's per-partition bytes_in."""
    from pyspark.sql import functions as F

    from pdf_extraction_api_spark.plans.extract import (
        audit_metrics,
        load_pages,
        run_extraction,
    )

    # 16 mega docs (~200 KB) + 480 tiny docs, ONE file, megas first
    mega = "<p>" + ("growth market analysis " * 9000) + "</p>"
    rows = [(f"https://m/{i:04d}", mega) for i in range(16)]
    rows += [(f"https://t/{i:04d}", "<p>tiny content here ok</p>")
             for i in range(480)]
    path = str(tmp_path / "skewed.parquet")
    (spark.createDataFrame(rows, "url STRING, text STRING")
     .select("url", F.encode("text", "utf-8").alias("html"))
     .coalesce(1).write.mode("overwrite").parquet(path))

    def max_share(salt):
        res = run_extraction(load_pages(spark, path),
                             salt_partitions=salt)
        audit = audit_metrics(res, "skewtest").collect()
        by_part = [r["bytes_in"] for r in audit if r["input_rows"] > 0]
        return max(by_part) / sum(by_part), len(by_part)

    salted_share, n_parts = max_share(16)
    assert n_parts >= 8  # actually spread across partitions
    # with 16 mega docs hashed over 16 partitions, no partition should
    # carry more than ~1/3 of all bytes (unsalted single-split: ~100%)
    assert salted_share < 0.35, salted_share


def test_snapshot_catalog_resume(spark, tmp_path):
    """Exactly-once per url: partial uncommitted data is invisible;
    re-run processes only the remainder (J4 anti-join)."""
    from pyspark.sql import functions as F

    from pdf_extraction_api_spark.plans.extract import (
        load_pages,
        resume_filter,
        run_extraction,
    )
    from pdf_extraction_api_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "warehouse"))
    pages = load_pages(spark, PAGES)

    # run 1: first 120 urls, committed
    first = pages.filter(F.col("url") < "https://site5")
    r1 = run_extraction(first).drop("tables", "spans")
    cat.append(r1, "results", run_id="run1")

    # simulate a crashed run: data written but no manifest
    crash_dir = tmp_path / "warehouse" / "results" / "data" / "crashed"
    run_extraction(first.limit(5)).drop("tables", "spans").write.mode(
        "overwrite").parquet(str(crash_dir))

    committed = cat.read(spark, "results")
    n1 = committed.count()
    assert n1 == first.count()  # crashed files invisible

    # run 2: resume — only the remainder is processed
    todo = resume_filter(pages, committed)
    assert todo.count() == 200 - n1
    r2 = run_extraction(todo).drop("tables", "spans")
    cat.append(r2, "results", run_id="run2")

    final = cat.read(spark, "results")
    assert final.count() == 200
    assert final.select("url").distinct().count() == 200  # exactly once

    # crash-replay: re-appending a committed run_id must be a no-op
    # (the foreachBatch path re-runs a committed-but-not-checkpointed
    # batch with the same id). Before the guard, the overwrite deleted
    # run1's part files and every read() died with path-not-found.
    m = cat.append(r1.limit(1), "results", run_id="run1")
    assert m["run_id"] == "run1"
    assert len(cat.committed_run_ids("results")) == 2  # no 3rd manifest
    assert cat.read(spark, "results").count() == 200   # nothing dangles

    # compaction: rewrite the union into few files via a full snapshot;
    # same rows, later appends still layer on top
    n_files_before = len({
        f for m in cat.snapshots("results") for f in m["files"]})
    c = cat.compact(spark, "results", target_files=2)
    assert c["full_snapshot"] and len(c["files"]) <= 2
    after = cat.read(spark, "results")
    assert after.count() == 200
    assert after.select("url").distinct().count() == 200
    # AQE may already coalesce tiny appends to few files; compaction
    # must never increase the count
    assert len(c["files"]) <= n_files_before
    # idempotent like append
    again = cat.compact(spark, "results", target_files=2)
    assert again["sequence"] == c["sequence"]
    # post-compaction append still visible
    extra = r1.limit(3).withColumn(
        "url", F.concat(F.lit("post-"), F.col("url")))
    cat.append(extra, "results", run_id="run3")
    assert cat.read(spark, "results").count() == 203

    # vacuum with default grace never touches fresh files (in-flight
    # append protection) …
    assert cat.vacuum("results") == []
    # … but with the grace waived it reclaims exactly the files
    # superseded by the full snapshot + the crashed run's orphans;
    # reads unaffected, manifests (and so run_id idempotency) stay
    deleted = cat.vacuum("results", grace_seconds=0)
    assert deleted
    assert all(d.startswith(("data/run", "data/crashed"))
               for d in deleted)
    assert any(d.startswith("data/crashed") for d in deleted)
    assert cat.read(spark, "results").count() == 203
    assert cat.vacuum("results", grace_seconds=0) == []  # nothing left
    m2 = cat.append(extra, "results", run_id="run3")  # still a no-op
    assert m2["run_id"] == "run3"
    assert cat.read(spark, "results").count() == 203
    # compaction refuses a run_id already used by an append
    import pytest as _pytest
    with _pytest.raises(ValueError, match="already used by an append"):
        cat.compact(spark, "results", run_id="run3")
    # …and a foreign run_id that merely ENDS with ours never matches
    # (the suffix-glob collision): 'un3' must not reuse run3's manifest
    m3 = cat.append(extra.limit(1), "results", run_id="un3")
    assert m3["files"] != m2["files"]


def test_spark_path_matches_refkernel_fresh_seed(spark, tmp_path):
    """Byte-equality on a corpus that is NOT the committed golden one
    (seed 7, generated now): guards the Spark/Arrow transport against
    overfitting to the fixed fixture bytes."""
    from fixtures.gen_pages import gen_rows, write_parquet
    from refkernel import extract_document

    pages_path = str(tmp_path / "pages_seed7.parquet")
    write_parquet(pages_path, 150, seed=7)
    expected = {}
    for r in gen_rows(150, seed=7):
        res = extract_document(r["url"], r["html"])
        expected[r["url"]] = _norm_row_like(res)
    got = _collect_results(spark, pages_path)
    assert set(got) == set(expected)
    bad = [u for u in expected if got[u] != expected[u]]
    assert bad == [], bad[:3]


def _norm_row_like(res: dict) -> tuple:
    """refkernel dict → same normal form as _norm_row over Spark rows."""
    return (
        res["n_pages"],
        res["extracted_text"],
        tuple(_norm_table(t) for t in res["tables"]),
        tuple((s["kind"], s["page"], s["start"], s["end"])
              for s in res["spans"]),
    )


def test_sink_roundtrip_preserves_bytes(spark, tmp_path, golden_map):
    """Full nested results written to parquet and re-read must still be
    byte-identical per url (the sink is part of the invariant)."""
    from pdf_extraction_api_spark.plans.extract import (
        load_pages,
        run_extraction,
    )

    out = str(tmp_path / "results.parquet")
    run_extraction(load_pages(spark, PAGES)).write.parquet(out)
    back = {r["url"]: _norm_row(r)
            for r in spark.read.parquet(out).collect()}
    assert back == golden_map


def test_tables_view_and_stats(spark):
    from pdf_extraction_api_spark.plans.extract import (
        load_pages,
        run_extraction,
        run_stats,
        tables_view,
    )

    results = run_extraction(load_pages(spark, PAGES))
    tv = tables_view(results)
    assert tv.count() == 349  # matches refkernel golden count
    stats = run_stats(results).collect()[0]
    assert stats["documents"] == 200
    assert stats["total_tables"] == 349
    assert set(stats["by_method"]) <= {"lattice", "stream"}
    assert sum(stats["quality_distribution"].values()) == 349


def test_sql_udf_surface_composes(spark):
    """register_extract_udf: a pure-SQL user filters, projects and
    aggregates AROUND the kernel UDF; results match the plan-level
    extract path on the same rows."""
    import pandas as pd

    from pdf_extraction_api_spark.kernel.batch import extract_one
    from pdf_extraction_api_spark.plans.extract import register_extract_udf

    register_extract_udf(spark)
    rows = [("u1", b"<body><p>Content paragraph one long enough.</p></body>"),
            ("u2", b'<body><table border="1"><tr><th>a</th><th>b</th></tr>'
                   b"<tr><td>1</td><td>2</td></tr></table></body>"),
            ("u3", b"<body><nav><a href='/'>x</a></nav></body>")]
    spark.createDataFrame(rows, "url STRING, html BINARY") \
        .createOrReplaceTempView("pages_sql_t")
    got = {r.url: (r.n_tables, bytes(r.extracted_text))
           for r in spark.sql("""
               SELECT url, r.n_tables, r.extracted_text
               FROM (SELECT url, extract_doc(html) AS r FROM pages_sql_t)
               WHERE r.error IS NULL AND url <> 'u3'
           """).collect()}
    assert set(got) == {"u1", "u2"}
    for url, html in rows[:2]:
        ref = extract_one(url, html)
        assert got[url] == (ref["n_tables"], ref["extracted_text"])
