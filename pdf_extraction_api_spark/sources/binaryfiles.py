"""S6 — binaryFile glob source (SURVEY.md §2.1).

The reference's PNG-glob fallback (`main.py:310-328`: glob("*.png")
when metadata is missing, packaged by filename order) maps to Spark's
built-in `binaryFile` data source: one row per file with (path,
modificationTime, length, content BINARY), partitioned by file —
at scale this is the standard way to ingest a directory tree of opaque
blobs without a custom reader.

For the oracle, the file tree is derived deterministically from the
`documents` table (content = utf-8 text bytes of the first 64 docs),
so DuckDB can reconstruct every output column from the table itself —
the query exercises a REAL binaryFile scan whose results reconcile
against an independent engine.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import functions as F

from ..operators.relational import T

_N_FILES = 64


def _rows_fingerprint(rows) -> str:
    import hashlib

    h = hashlib.md5()
    for r in rows:
        h.update(str(tuple(r)).encode("utf-8"))
    return h.hexdigest()


def _build_tree(kind: str, rows, write_files) -> Path:
    """Content-keyed, atomically-published fixture tree: the cache dir
    name embeds a fingerprint of the source rows (so a regenerated
    table never serves stale files), and files are staged in a temp
    dir then os.rename'd into place (so a concurrent reader never sees
    a half-written tree)."""
    import os
    import uuid

    fp = _rows_fingerprint(rows)
    base = Path(tempfile.gettempdir()) / f"spark_graft_{kind}" / fp
    if base.exists():
        return base
    stage = base.parent / f".stage-{uuid.uuid4().hex}"
    stage.mkdir(parents=True, exist_ok=True)
    write_files(stage, rows)
    try:
        os.rename(stage, base)  # atomic publish
    except OSError:  # lost the race to another session — theirs wins
        import shutil

        shutil.rmtree(stage, ignore_errors=True)
    return base


def _file_tree(spark, sf: str) -> Path:
    """Deterministic on-disk blob tree derived from documents."""
    rows = (
        T(spark, sf, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < _N_FILES)
        .orderBy("doc_id")
        .collect()  # 64 tiny rows: fixture construction, not the op
    )

    def write(stage: Path, rows):
        for r in rows:
            (stage / f"doc_{r.doc_id:05d}.bin").write_bytes(
                r.text.encode("utf-8"))

    return _build_tree("bin", rows, write)


def s6_binary_glob(spark, sf):
    """S6: spark.read.format('binaryFile').load(glob) → per-file row
    (id parsed from the filename, byte length, content md5)."""
    base = _file_tree(spark, sf)
    df = spark.read.format("binaryFile").load(str(base / "*.bin"))
    return df.select(
        F.regexp_extract("path", r"doc_(\d+)\.bin", 1)
        .cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


S6_SQL = f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id < {_N_FILES}
"""

def _csv_tree(spark, sf: str) -> Path:
    """Deterministic CSV file tree (one file per 16-doc shard)."""
    rows = (
        T(spark, sf, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("doc_id") < _N_FILES)
        .orderBy("doc_id")
        .collect()
    )

    def write(stage: Path, rows):
        shards: dict[int, list] = {}
        for r in rows:
            shards.setdefault(int(r.doc_id) // 16, []).append(r)
        for shard, items in shards.items():
            lines = ["doc_id,lang,n_chars"]
            for r in items:
                lines.append(f"{r.doc_id},{r.lang},{r.n_chars}")
            (stage / f"shard_{shard:03d}.csv").write_text(
                "\n".join(lines) + "\n")

    return _build_tree("csv", rows, write)


def s5_csv_glob(spark, sf):
    """S5: CSV glob source (ref main.py:415-442 reads back the table
    CSVs by glob) — spark.read.csv with an explicit schema +
    input_file_name() lineage, per-file row counts reconciled against
    the originating table."""
    base = _csv_tree(spark, sf)
    df = (
        spark.read.schema("doc_id LONG, lang STRING, n_chars LONG")
        .option("header", True)
        .csv(str(base / "*.csv"))
        .withColumn(
            "shard",
            F.regexp_extract(F.input_file_name(), r"shard_(\d+)\.csv", 1)
            .cast("int"))
    )
    return (
        df.groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("n_chars").alias("chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


S5_SQL = f"""
SELECT CAST(doc_id // 16 AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS chars,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents WHERE doc_id < {_N_FILES}
GROUP BY 1
"""

def _jsonl_tree(spark, sf: str) -> Path:
    """Deterministic JSONL file tree (one file per 16-doc shard) —
    the lingua-franca format of LLM training corpora."""
    rows = (
        T(spark, sf, "documents")
        .select("doc_id", "lang", "text")
        .filter(F.col("doc_id") < _N_FILES)
        .orderBy("doc_id")
        .collect()
    )

    def write(stage: Path, rows):
        import json

        shards: dict[int, list] = {}
        for r in rows:
            shards.setdefault(int(r.doc_id) // 16, []).append(r)
        for shard, items in shards.items():
            lines = [json.dumps({"id": int(r.doc_id), "lang": r.lang,
                                 "text": r.text},
                                ensure_ascii=False)
                     for r in items]
            (stage / f"part_{shard:03d}.jsonl").write_text(
                "\n".join(lines) + "\n", encoding="utf-8")

    return _build_tree("jsonl", rows, write)


def s11_jsonl_glob(spark, sf):
    """S11 (engine-added source): JSONL glob ingestion — the standard
    interchange format of web-scale text corpora (one JSON object per
    line). A REAL spark.read.json scan with an explicit schema (no
    sampling inference pass — at 100 TB schema inference would read
    the corpus twice) and input_file_name() lineage; md5(text)
    certifies the write→escape→parse round-trip byte-exactly against
    the originating table."""
    base = _jsonl_tree(spark, sf)
    df = (
        spark.read.schema("id LONG, lang STRING, text STRING")
        .json(str(base / "*.jsonl"))
        .withColumn(
            "shard",
            F.regexp_extract(F.input_file_name(),
                             r"part_(\d+)\.jsonl", 1).cast("int"))
    )
    return df.select(
        F.col("id").alias("doc_id"), "lang", "shard",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("text_md5"),
    )


S11_SQL = f"""
SELECT doc_id, lang, CAST(doc_id // 16 AS INT) AS shard,
       CAST(length(text) AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents WHERE doc_id < {_N_FILES}
"""


def s7_snapshot_timetravel(spark, sf):
    """S7 registry surface: the atomic snapshot sink's TIME TRAVEL —
    two committed appends (batch 1 = doc_id < 32, batch 2 = 32..63)
    into a SnapshotCatalog table, then one read pinned at sequence 1
    and one current read, summarized per view. Exercises the real
    manifest protocol (exclusive-link commits, idempotent run_ids —
    re-running this query re-appends under the same run_ids and the
    catalog no-ops) end to end; the oracle reconstructs both views
    from the originating table. The fixture catalog is content-keyed
    and bounded (64 rows), same convention as the glob-source
    trees."""
    from .catalog import SnapshotCatalog

    docs = (T(spark, sf, "documents")
            .filter(F.col("doc_id") < _N_FILES)
            .select("doc_id", "n_chars"))
    fp = _rows_fingerprint(docs.orderBy("doc_id").collect())
    root = Path(tempfile.gettempdir()) / "spark_graft_snap" / fp
    cat = SnapshotCatalog(str(root))
    cat.append(docs.filter(F.col("doc_id") < _N_FILES // 2),
               "docs", "b1")
    cat.append(docs.filter(F.col("doc_id") >= _N_FILES // 2),
               "docs", "b2")

    def summarize(df, view):
        return df.agg(
            F.lit(view).alias("view"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.max("doc_id").alias("max_doc"))

    v1 = summarize(cat.read(spark, "docs", as_of=1), "as_of_1")
    v2 = summarize(cat.read(spark, "docs"), "current")
    return v1.unionByName(v2)


S7_SQL = f"""
SELECT 'as_of_1' AS view, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(max(doc_id) AS BIGINT) AS max_doc
FROM documents WHERE doc_id < {_N_FILES // 2}
UNION ALL
SELECT 'current', CAST(count(*) AS BIGINT),
       CAST(sum(n_chars) AS BIGINT), CAST(max(doc_id) AS BIGINT)
FROM documents WHERE doc_id < {_N_FILES}
"""


QUERIES = {
    "s6_binary_glob": (s6_binary_glob, S6_SQL),
    "s5_csv_glob": (s5_csv_glob, S5_SQL),
    "s11_jsonl_glob": (s11_jsonl_glob, S11_SQL),
    "s7_snapshot_timetravel": (s7_snapshot_timetravel, S7_SQL),
}
