"""The extraction plan: pages → kernel → results (+ audit, + resume).

Replaces the reference's HTTP→subprocess→threadpool→filesystem pipeline
(SURVEY.md §3.1) with ONE DataFrame plan:

    read pages → [resume anti-join J4] → mapInArrow(extract_kernel)
    → commit_run: results (lineage in the same files, one commit)
    → per-partition audit derived from the committed files

Scale notes (SURVEY.md §4, 100 TB design):

- **No pre-kernel shuffle by default.** The Parquet/Iceberg scan already
  partitions by bytes (`spark.sql.files.maxPartitionBytes`), which is
  the correct balancing unit for a size-skewed corpus — shuffling the
  html payload to "balance" it would move the full 100 TB through the
  network first. `salt_partitions` exists for pathological layouts
  (e.g. one giant sorted file): it hash-salts on url, which spreads
  mega-documents uniformly at the cost of one shuffle.
- **Column pruning is load-bearing**: the kernel selects only
  (url, html); metrics-only consumers must never deserialize html —
  verified in tests via the scan's ReadSchema.
- The kernel is a UDTF-shaped mapInArrow (1 row in → 1 row out with
  nested arrays); an Arrow batch closes at whichever bound of
  ARROW_BATCH_CONF it hits first, rows or bytes, so a batch of html
  payloads fits executor memory however large the documents are and
  the kernel's transient heap stays small. job.py's session and every
  extraction stream run under these bounds.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..kernel.batch import RESULT_SCHEMA
from ..sources.catalog import SnapshotCatalog, hide

# per-document lineage the kernel appends to RESULT_SCHEMA; committed
# results keep it as hidden columns, and the audit is built from it
LINEAGE_COLS = ("partition_id", "bytes_in", "kernel_us")

KERNEL_SCHEMA = StructType(
    RESULT_SCHEMA.fields
    + [StructField(c, LongType()) for c in LINEAGE_COLS]
)

_RESULT_COLS = [f.name for f in RESULT_SCHEMA.fields]

# the Arrow batch bounds the kernel runs under: the kernel's transient
# heap grows with a batch's html bytes, and Spark's defaults (10,000
# rows, 64 MiB) would let one batch hold thousands of documents
ARROW_BATCH_CONF = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(256 << 10),
}


def _make_kernel(carry: tuple[str, ...]):
    """Kernel closure (mapInArrow); `carry` columns ride the Arrow
    batch unchanged (1 row in → 1 row out, so passthrough is
    positional — carried arrays are re-emitted as the INPUT batch's
    Arrow arrays, zero per-row Python) — lets downstream rollups
    group on input attributes (e.g. lang) with NO post-kernel join.

    Each input batch goes through kernel_batch, the loop the SQL UDF
    runs too (dup-body memo, per-doc error records). Its packed
    records become the output batch column by column (record_arrays),
    every array built from buffers (arrow_array; spans as one ListArray
    over concatenated kind-code and int32 buffers) — no per-span dict,
    no row-wise from_pylist and no pa.array over a Python list, so the
    worker never imports pandas; each of those held its peak memory
    up."""

    def _kernel(batches):
        from pyspark import TaskContext

        from ..kernel.batch import arrow_array, kernel_batch, record_arrays

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        names = _RESULT_COLS + list(LINEAGE_COLS) + list(carry)
        i64 = pa.int64()
        for rb in batches:
            idx = rb.schema.get_field_index
            records, bytes_in, kernel_us = kernel_batch(
                rb.column(idx("url")).to_pylist(),
                rb.column(idx("html")).to_pylist())
            arrays = record_arrays(records) + [
                arrow_array([pid] * len(records), i64),
                arrow_array(bytes_in, i64),
                arrow_array(kernel_us, i64),
            ] + [rb.column(idx(c)) for c in carry]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return _kernel


def load_pages(spark: SparkSession, path: str) -> DataFrame:
    """Scan the pages table (Parquet here; Iceberg when a runtime jar
    is on the cluster — the plan is identical, SURVEY.md §1.2)."""
    return spark.read.parquet(path)


def resume_filter(pages: DataFrame, committed_urls: DataFrame) -> DataFrame:
    """J4 — skip already-committed urls (idempotent resume). The
    committed set is tiny relative to 10^12 pages only per-run; at
    scale prefer partition-pruned snapshots; here: broadcast-able
    left anti join."""
    return pages.join(
        F.broadcast(committed_urls.select("url")), "url", "left_anti"
    )


def run_extraction(
    pages: DataFrame,
    *,
    salt_partitions: int | None = None,
    with_lineage: bool = True,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """pages(url, html, ...) → extraction results (one row per url).

    `carry` names extra pages columns to pass through the kernel
    unchanged (e.g. ("lang",)) so per-attribute rollups need no join
    back to the scan."""
    clash = set(carry) & {f.name for f in KERNEL_SCHEMA.fields}
    if clash:
        raise ValueError(
            f"carry columns {sorted(clash)} collide with kernel output "
            "columns — they would silently overwrite kernel values and "
            "duplicate fields in the result schema")
    src = pages.select("url", "html", *carry)
    if salt_partitions:
        # explicit skew defusal for pathological input layouts
        src = src.repartition(salt_partitions, F.xxhash64("url"))
    schema = StructType(
        KERNEL_SCHEMA.fields + [pages.schema[c] for c in carry])
    out = src.mapInArrow(_make_kernel(carry), schema=schema)
    if not with_lineage:
        out = out.drop(*LINEAGE_COLS)
    return out


EXTRACT_UDF_SCHEMA = ("n_pages INT, extracted_text BINARY, "
                      "n_tables INT, n_content_spans INT, error STRING")


def register_extract_udf(spark: SparkSession, name: str = "extract_doc"):
    """Register the extraction kernel as a SQL-callable Arrow UDF so
    pure-SQL users can run it:  SELECT url, extract_doc(html).* FROM
    pages.  Returns the scalar summary struct (pages, extracted bytes,
    table/span counts, error) — Arrow-batched like the mapInArrow
    path, same kernel_batch loop, same memo, same record_arrays
    columns; full nested results (tables/spans) stay on
    run_extraction, the plan-level surface.

    The UDF is html-only (url is a pass-through key the caller already
    has), so it composes with any FROM clause — joins, filters and
    column pruning all stay Catalyst-visible around it."""
    from itertools import repeat

    udf_cols = ["n_pages", "extracted_text", "n_tables",
                "n_content_spans", "error"]
    picks = [_RESULT_COLS.index(c) for c in udf_cols]

    def _extract(html: pa.Array) -> pa.Array:
        from ..kernel.batch import kernel_batch, record_arrays

        records, _, _ = kernel_batch(repeat(""), html.to_pylist())
        arrays = record_arrays(records)
        return pa.StructArray.from_arrays(
            [arrays[i] for i in picks], names=udf_cols)

    udf = F.arrow_udf(_extract, EXTRACT_UDF_SCHEMA)
    spark.udf.register(name, udf)
    return udf


def tables_view(results: DataFrame) -> DataFrame:
    """Explode nested tables to a flat relational view (W1/D1 already
    applied in-kernel — zero extra shuffles, SURVEY.md §3.1)."""
    t = results.select(
        "url", "n_pages", F.explode("tables").alias("t")
    )
    return t.select("url", "n_pages", "t.*")


def audit_metrics(results: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage + counters (north_rule requirement):
    (run_id, partition_id, input_rows, output_rows, n_tables,
    bytes_in, kernel_ms, errors)."""
    return (
        results.groupBy("partition_id")
        .agg(
            F.count("*").alias("input_rows"),
            F.count(F.when(F.col("error").isNull(), 1)).alias(
                "output_rows"),
            F.sum("n_tables").alias("n_tables"),
            F.sum("bytes_in").alias("bytes_in"),
            (F.sum("kernel_us") / 1000.0).alias("kernel_ms"),
            F.count(F.col("error")).alias("errors"),
        )
        .withColumn("run_id", F.lit(run_id))
    )


def commit_run(cat: SnapshotCatalog, results: DataFrame, run_id: str,
               table: str = "results",
               audit_table: str = "audit") -> None:
    """The one path from kernel output (`run_extraction` with lineage)
    to the catalog. The kernel runs exactly once, inside the results
    append, which stores LINEAGE_COLS as hidden columns next to the
    rows: its manifest commit is the run's only commit point. The audit
    is then derived from the committed files, so a crash after the
    commit loses nothing a later run cannot rebuild (repair_audits)."""
    cat.append(hide(results, LINEAGE_COLS), table, run_id=run_id)
    committed = cat.read_run(results.sparkSession, table, run_id)
    if committed is not None:  # None: a replay of a vacuumed run
        cat.append(audit_metrics(committed, run_id), audit_table,
                   run_id=run_id)


def repair_audits(spark: SparkSession, cat: SnapshotCatalog,
                  table: str = "results",
                  audit_table: str = "audit") -> None:
    """Append the audit of every run committed to `table` whose audit
    snapshot is missing, computed by audit_metrics over that run's
    committed files; prints one line per run. A manifest comparison
    when nothing is missing: no Spark job runs. A run whose files a
    compaction superseded and vacuum() reclaimed cannot be audited any
    more; it is skipped with a warning."""
    audited = set(cat.committed_run_ids(audit_table))
    for m in cat.snapshots(table):
        rid = m["run_id"]
        if m.get("full_snapshot") or rid in audited \
                or not set(LINEAGE_COLS) <= set(m.get("hidden", ())):
            continue  # a compaction, audited, or committed without lineage
        committed = cat.read_run(spark, table, rid)
        if committed is None:
            print(f"warning: cannot repair the missing {audit_table!r} "
                  f"snapshot of run {rid!r}: its {table!r} files were "
                  "vacuumed after a compaction")
            continue
        cat.append(audit_metrics(committed, rid), audit_table, run_id=rid)
        print(f"repaired missing {audit_table!r} snapshot of run "
              f"{rid!r} from its committed {table!r} files")


def run_stats(results: DataFrame) -> DataFrame:
    """Run-level statistics (A1-A5, A11 as one hash-agg pass)."""
    t = tables_view(results)
    by_method = t.groupBy("method").count()
    by_type = t.groupBy("table_type").count()
    quality_hist = t.groupBy(
        F.when(F.col("quality_score") >= 0.7, "high")
        .when(F.col("quality_score") >= 0.4, "medium")
        .otherwise("low")
        .alias("bucket")
    ).count()
    totals = results.agg(
        F.count("*").alias("documents"),
        F.sum("n_pages").alias("total_pages"),
        F.sum("n_tables").alias("total_tables"),
        F.count(F.when(F.col("n_tables") > 0, 1)).alias(
            "docs_with_tables"),
        F.sum(F.length("extracted_text")).alias("extracted_bytes"),
    )
    return totals.crossJoin(
        F.broadcast(
            by_method.agg(
                F.map_from_entries(
                    F.collect_list(F.struct("method", "count"))
                ).alias("by_method")
            )
        )
    ).crossJoin(
        F.broadcast(
            by_type.agg(
                F.map_from_entries(
                    F.collect_list(F.struct("table_type", "count"))
                ).alias("by_type")
            )
        )
    ).crossJoin(
        F.broadcast(
            quality_hist.agg(
                F.map_from_entries(
                    F.collect_list(F.struct("bucket", "count"))
                ).alias("quality_distribution")
            )
        )
    )
