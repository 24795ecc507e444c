"""Structured Streaming surface for the extraction kernel.

The reference is strictly batch (SURVEY.md §2.10); this is the
incremental-ingest path for a continuously-landing Common-Crawl table:
`readStream` over the pages directory → the SAME mapInArrow kernel →
`foreachBatch` committing through the snapshot catalog, with
`trigger(availableNow=True)` for catch-up runs. Exactly-once comes from
the Spark streaming checkpoint (source offsets) + the catalog's atomic
manifest commit; a re-run after a crash replays only uncommitted
microbatches.

Each microbatch commits through `commit_run`, the function `job.py`
commits through: one results snapshot (RESULT_SCHEMA's columns to
readers, lineage hidden in the same files, nested tables/spans kept)
is the batch's commit point, and the per-partition audit in
`{table}_audit` is derived from it. A stream start first derives the
audit of any earlier batch whose audit a crash lost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.extract import (
    ARROW_BATCH_CONF,
    commit_run,
    repair_audits,
    run_extraction,
)
from ..sources.catalog import SnapshotCatalog


def start_extraction_stream(
    spark: SparkSession,
    pages_path: str,
    catalog: SnapshotCatalog,
    table: str,
    checkpoint_dir: str,
):
    """Incremental extraction: each microbatch runs the kernel and
    commits one catalog snapshot (run_id = batch id). Audits a crash
    lost before this start are repaired first; a replayed batch
    re-derives its own. The session takes the kernel's Arrow batch
    bounds (ARROW_BATCH_CONF) before the stream starts, so every
    microbatch runs under them."""
    for key, value in ARROW_BATCH_CONF.items():
        spark.conf.set(key, value)
    repair_audits(spark, catalog, table, f"{table}_audit")
    stream = (
        spark.readStream.schema(spark.read.parquet(pages_path).schema)
        .option("maxFilesPerTrigger", "8")
        .parquet(pages_path)
    )

    def commit_batch(batch_df: DataFrame, batch_id: int):
        # append is idempotent per run_id, so a crash-replayed batch
        # commits neither table twice
        commit_run(catalog, run_extraction(batch_df, with_lineage=True),
                   f"batch-{batch_id:06d}", table, f"{table}_audit")

    return (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
