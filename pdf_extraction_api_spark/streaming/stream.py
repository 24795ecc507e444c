"""Structured Streaming surface for the extraction kernel.

The reference is strictly batch (SURVEY.md §2.10); this is the
incremental-ingest path for a continuously-landing Common-Crawl table:
`readStream` over the pages directory → the SAME mapInArrow kernel →
`foreachBatch` committing through the snapshot catalog, with
`trigger(availableNow=True)` for catch-up runs. Exactly-once comes from
the Spark streaming checkpoint (source offsets) + the catalog's atomic
manifest commit; a re-run after a crash replays only uncommitted
microbatches.

Watermarking: event-time = warc_ts (from data, never the clock —
quirk #8); `windowed_doc_counts` shows the late-data-tolerant windowed
aggregation shape over extraction output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.extract import run_extraction
from ..sources.catalog import SnapshotCatalog


def read_pages_stream(spark: SparkSession, path: str,
                      schema=None) -> DataFrame:
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(path)
    )


def start_extraction_stream(
    spark: SparkSession,
    pages_path: str,
    catalog: SnapshotCatalog,
    table: str,
    checkpoint_dir: str,
):
    """Incremental extraction: each microbatch runs the kernel and
    commits one catalog snapshot (run_id = batch id)."""
    stream = read_pages_stream(spark, pages_path)

    def commit_batch(batch_df: DataFrame, batch_id: int):
        from ..plans.extract import audit_metrics

        run_id = f"batch-{batch_id:06d}"
        results = run_extraction(batch_df, with_lineage=True).cache()
        try:
            flat = results.drop("tables", "spans")
            catalog.append(flat, table, run_id=run_id)
            # per-partition lineage for the streaming path too
            # (north_rule); append is idempotent per run_id, so a
            # crash-replayed batch commits neither table twice
            catalog.append(audit_metrics(results, run_id),
                           f"{table}_audit", run_id=run_id)
        finally:
            results.unpersist()

    return (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_doc_counts(pages_stream: DataFrame) -> DataFrame:
    """Watermarked event-time window over the stream (late data beyond
    10 minutes dropped deterministically)."""
    return (
        pages_stream.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "1 hour"), "lang")
        .agg(F.count("*").alias("n_docs"))
    )


def hopping_doc_counts(pages_stream: DataFrame) -> DataFrame:
    """Watermarked HOPPING window (1 hour every 30 minutes) — the
    exact window expression the batch `ev_hopping` operator uses, so
    batch and stream agree on boundaries and multiplicity (each event
    lands in size/hop = 2 overlapping windows).
    tests/test_job_and_stream.py asserts stream output row-equals the
    batch aggregation over the same staged files."""
    return (
        pages_stream.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "1 hour", "30 minutes"), "lang")
        .agg(F.count("*").alias("n_docs"))
    )
