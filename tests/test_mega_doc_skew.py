"""Mega-document stress proof (SURVEY §7 hard part #3).

Two claims a 10^12-doc crawl corpus forces:

1. a ≥50 MB single document streams through the kernel with bounded
   memory (a few times the doc size — no quadratic buffering) and
   byte-parity with the reference kernel holds at multi-MB sizes;
2. a skewed file layout (all mega docs clustered in one parquet file,
   the way sorted crawl dumps really arrive) serializes kernel time
   onto one task by default, and run_extraction(salt_partitions=)
   provably spreads it — asserted on the per-partition kernel_us
   lineage, which is deterministic, rather than on wall time, which
   is not on this host. Wall-time numbers live in BENCH/NOTES.md.
"""

from __future__ import annotations

import random

import pytest


def _mega_html(target_bytes: int, seed: int = 7) -> bytes:
    rng = random.Random(seed)
    words = ("alpha beta gamma delta market data fiscal quarter "
             "revenue growth report outlook").split()
    blocks, size = [], 0
    while size < target_bytes:
        if rng.random() < 0.02:
            rows = "".join(
                f"<tr><td>{rng.choice(words)}</td>"
                f"<td>{rng.randint(1, 999)}</td></tr>"
                for _ in range(5))
            b = f"<table>{rows}</table>"
        else:
            para = " ".join(rng.choice(words) for _ in range(300))
            b = f"<p>{para}</p>"
        blocks.append(b)
        size += len(b)
    return ("<!DOCTYPE html><html><body>" + "".join(blocks)
            + "</body></html>").encode()


def test_50mb_doc_streams_with_bounded_memory():
    """The kernel must stream a 50 MiB document: peak traced
    allocation stays within a small constant factor of the document
    size (measured 3.25x; asserted < 6x) and the document extracts
    clean — no error row, tables found, text ~ document size."""
    import tracemalloc

    from pdf_extraction_api_spark.kernel.batch import extract_one

    html = _mega_html(50 * (1 << 20))
    assert len(html) >= 50 * (1 << 20)
    tracemalloc.start()
    row = extract_one("https://mega.example/50mb", html)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert row["error"] is None
    assert row["n_tables"] > 100
    assert len(row["extracted_text"]) > len(html) * 0.9
    assert peak < 6 * len(html), f"peak {peak} vs doc {len(html)}"


def test_multi_mb_doc_byte_parity():
    """Byte-parity vs the reference kernel is usually proven on
    kB-sized fixtures; pin it at multi-MB too (buffer-boundary bugs
    only appear past the small sizes)."""
    from refkernel import extract_document

    from pdf_extraction_api_spark.kernel.batch import extract_one

    html = _mega_html(5 * (1 << 20), seed=11)
    ref = extract_document("https://mega.example/5mb", html)
    mine = extract_one("https://mega.example/5mb", html)
    assert mine["extracted_text"] == ref["extracted_text"]
    assert mine["n_tables"] == len(ref["tables"])


def test_salting_spreads_clustered_mega_docs(spark, tmp_path):
    """Skewed layout: 8 mega docs (100x the small size) clustered in
    ONE parquet file — the sorted-crawl-dump shape. Default scan
    splits put that whole file (and so ~all kernel work) on one task;
    salt_partitions spreads rows by url hash. Asserted on the
    deterministic per-partition kernel_us lineage: the busiest
    partition's share of total kernel time must drop under salting."""
    import pandas as pd

    from pdf_extraction_api_spark.plans.extract import (
        load_pages,
        run_extraction,
    )

    small_rows = [
        {"url": f"https://s.example/{i:04d}",
         "html": _mega_html(20_000, seed=100 + i)}
        for i in range(56)
    ]
    mega_rows = [
        {"url": f"https://mega.example/{i:02d}",
         "html": _mega_html(2_000_000, seed=200 + i)}
        for i in range(8)
    ]
    path = str(tmp_path / "skewed")
    # smalls across 7 files, all megas clustered into 1 file — two
    # appends into the same dataset, exactly how a sorted dump lands
    (spark.createDataFrame(pd.DataFrame(small_rows))
     .repartition(7).write.mode("overwrite").parquet(path))
    (spark.createDataFrame(pd.DataFrame(mega_rows))
     .coalesce(1).write.mode("append").parquet(path))

    def max_share(df) -> float:
        stats = (df.groupBy("partition_id").sum("kernel_us")
                 .toPandas()["sum(kernel_us)"])
        return float(stats.max()) / float(stats.sum())

    pages = load_pages(spark, path)
    plain = max_share(run_extraction(pages))
    salted = max_share(
        run_extraction(pages, salt_partitions=16))
    # default: the mega file is one task -> one partition holds ~all
    # kernel time; salted: no partition should keep a majority
    assert plain > 0.5, plain
    assert salted < 0.5, salted
    assert salted < plain
