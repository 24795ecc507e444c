"""Structured Streaming surface for the extraction kernel.

The reference is strictly batch (SURVEY.md §2.10); this is the
incremental-ingest path for a continuously-landing Common-Crawl table:
`readStream` over the pages directory → the SAME mapInArrow kernel →
`foreachBatch` committing through the snapshot catalog, with
`trigger(availableNow=True)` for catch-up runs. Exactly-once comes from
the Spark streaming checkpoint (source offsets) + the catalog's atomic
manifest commit; a re-run after a crash replays only uncommitted
microbatches.

Each microbatch commits the shapes `job.py` commits: results with
exactly RESULT_SCHEMA's columns (lineage columns dropped, nested
tables/spans kept) and the per-partition audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.extract import LINEAGE_COLS, audit_metrics, run_extraction
from ..sources.catalog import SnapshotCatalog


def start_extraction_stream(
    spark: SparkSession,
    pages_path: str,
    catalog: SnapshotCatalog,
    table: str,
    checkpoint_dir: str,
):
    """Incremental extraction: each microbatch runs the kernel and
    commits one catalog snapshot (run_id = batch id)."""
    stream = (
        spark.readStream.schema(spark.read.parquet(pages_path).schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(pages_path)
    )

    def commit_batch(batch_df: DataFrame, batch_id: int):
        run_id = f"batch-{batch_id:06d}"
        results = run_extraction(batch_df, with_lineage=True).cache()
        try:
            catalog.append(results.drop(*LINEAGE_COLS), table,
                           run_id=run_id)
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
