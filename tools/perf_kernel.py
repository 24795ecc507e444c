"""Single-thread kernel micro-bench over the committed golden corpus.

    python -m tools.perf_kernel [reps]

Prints docs/s/thread for the full kernel plus the parse stage alone
(model.parse_document: decode, run_fused, finish). The Spark-level number is this × threads ×
(1 - steal); end-to-end numbers come from perfbench/run.py (the
benchmark of record, BENCHMARK.json).
"""

from __future__ import annotations

import sys
import time


def main(reps: int = 8) -> None:
    import pyarrow.parquet as pq

    from pdf_extraction_api_spark.kernel.batch import extract_record
    from pdf_extraction_api_spark.kernel.model import parse_document

    rows = pq.read_table("tests/golden/pages_tiny.parquet").to_pylist()
    for r in rows:  # warm
        extract_record(r["url"], r["html"])

    # process_time is steal-immune (this host's vCPU steal makes
    # wall-clock vary ±40% run to run); wall-clock is reported too.
    t0 = time.process_time()
    for _ in range(reps):
        for r in rows:
            parse_document(r["html"])
    t_parse = time.process_time() - t0

    # best-of over several windows: the host's vCPU steal/IPC varies
    # ±40% minute to minute; the fastest window is the comparable
    # number (same convention as bench.py's min-of-reps)
    from pdf_extraction_api_spark.kernel import tablepipe

    best = float("inf")
    for _ in range(5):
        t0 = time.process_time()
        for _ in range(reps):
            # repeating the same 200 docs would drive the classify
            # memo to ~100% hits — clear it so the number reflects a
            # corpus of unique documents (intra-doc repeats still hit)
            tablepipe._CLS_CACHE.clear()
            for r in rows:
                extract_record(r["url"], r["html"])
        best = min(best, time.process_time() - t0)

    n = len(rows) * reps
    print(f"docs: {n} x5 windows")
    print(f"parse     : {t_parse:.3f}s cpu")
    print(f"full best : {best:.3f}s cpu = {n / best:.0f} docs/s/thread")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 8)
