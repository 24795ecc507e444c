"""Extraction-kernel queries with DuckDB oracles.

The kernel itself is not SQL (Python byte-exact semantics inside
mapInArrow) — but on *constructively known* HTML its output is fully
predictable, so we wrap `documents` rows into a fixed HTML shell
(boilerplate nav + content paragraph + a 2-column ruled table) and let
the oracle reconstruct every kernel output — extracted text, span
geometry, CSV bytes, even the md5 content hash — with pure SQL string
ops. This pins the whole Spark path (scan → Arrow → kernel → nested
results → collect) against an independent engine, not just against
refkernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.extract import run_extraction
from .relational import T, spread


def pages_from_documents(spark: SparkSession, sf: str,
                         url=None) -> DataFrame:
    """documents → pages(url, html BINARY) with a fixed HTML shell.

    The shell is load-bearing for every EX*_SQL oracle (they
    reconstruct kernel output assuming exactly this nav + paragraph +
    2-column-table markup), so it lives here ONCE; callers that need a
    different url shape pass a Column via `url` (default: the doc_id
    as a string).

    The scan is `spread` (r8): the documents table arrives as ONE
    row-group, so the whole Python kernel fan-out otherwise runs on a
    single task — the repartition moves the few-MB text column once
    and buys cores-wide kernel parallelism (no-op at production scan
    widths; same rationale as image_payloads' id repartition)."""
    d = spread(T(spark, sf, "documents"), "doc_id")
    html = F.concat(
        F.lit('<body><nav><a href="/">Home</a></nav><p>'),
        F.col("text"),
        F.lit('</p><table border="1"><tr><th>metric</th><th>value</th>'
              "</tr><tr><td>chars</td><td>"),
        F.col("n_chars").cast("string"),
        F.lit("</td></tr><tr><td>lang</td><td>"),
        F.col("lang"),
        F.lit("</td></tr></table></body>"),
    )
    if url is None:
        url = F.col("doc_id").cast("string")
    return d.select(
        url.alias("url"),
        F.encode(html, "utf-8").alias("html"),
        "lang",
    )


def _results(spark, sf) -> DataFrame:
    return run_extraction(pages_from_documents(spark, sf))


# SQL fragment: the kernel's whitespace-normalized view of `text`
_NORM = r"trim(regexp_replace(text, '\s+', ' ', 'g'))"


def ex1_kernel_text(spark, sf):
    """extracted_text must equal the normalized content paragraph —
    the per-url byte-equality invariant checked via SQL."""
    return _results(spark, sf).select(
        "url", F.decode("extracted_text", "utf-8").alias("extracted"))


EX1_SQL = f"""
SELECT CAST(doc_id AS VARCHAR) AS url, {_NORM} AS extracted
FROM documents
"""


def ex2_kernel_tables(spark, sf):
    """Full table emission: dims, method, classification, CSV bytes and
    the md5-of-canonical-JSON content hash, all reconstructed in SQL."""
    r = _results(spark, sf)
    t = r.select("url", F.explode("tables").alias("t"))
    return t.select(
        "url",
        F.col("t.page").alias("page"),
        F.col("t.method").alias("method"),
        F.col("t.rows").alias("n_rows"),
        F.col("t.columns").alias("n_cols"),
        F.col("t.table_type").alias("table_type"),
        F.round("t.quality_score", 6).alias("quality_score"),
        F.round("t.numeric_percentage", 6).alias("numeric_pct"),
        F.decode("t.csv_bytes", "utf-8").alias("csv_text"),
        F.col("t.content_hash").alias("content_hash"),
    )


# kernel quality for the fixed 3x2 grid:
#   completeness 1.0, consistency 1.0,
#   structure: header 'metric','value' both non-numeric → 1.0; dim 1.0
#   data_types: col0 {chars,lang} 0% numeric → consistent;
#               col1 {n_chars, lang-code} 50% numeric → NOT consistent
#               → 0.5
#   size 1.0  →  0.3 + 0.2 + 0.2 + 0.1 + 0.1 = 0.9
EX2_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS url,
       1 AS page,
       'lattice' AS method,
       2 AS n_rows,
       2 AS n_cols,
       'market_data' AS table_type,
       CAST(0.9 AS DOUBLE) AS quality_score,
       CAST(0.25 AS DOUBLE) AS numeric_pct,
       'metric,value' || chr(10) || 'chars,' || CAST(n_chars AS VARCHAR)
         || chr(10) || 'lang,' || lang || chr(10) AS csv_text,
       md5('[["metric", "value"], ["chars", "' || CAST(n_chars AS VARCHAR)
           || '"], ["lang", "' || lang || '"]]') AS content_hash
FROM documents
"""


def ex3_kernel_spans(spark, sf):
    """Span geometry: counts per kind + the content block's offsets."""
    r = _results(spark, sf)
    content = F.filter(
        F.col("spans"), lambda s: s["kind"] == F.lit("content"))
    return r.select(
        "url",
        F.size("spans").alias("n_spans"),
        F.size(F.filter(
            F.col("spans"),
            lambda s: s["kind"] == F.lit("boilerplate"))).alias("n_boiler"),
        F.size(F.filter(
            F.col("spans"),
            lambda s: s["kind"] == F.lit("table_cell"))).alias("n_cells"),
        F.element_at(content, 1)["start"].alias("content_start"),
        F.element_at(content, 1)["end"].alias("content_end"),
    )


# spans: nav 'Home' boiler (0,4); content (5, 5+len); 6 table cells
EX3_SQL = f"""
SELECT CAST(doc_id AS VARCHAR) AS url,
       8 AS n_spans,
       1 AS n_boiler,
       6 AS n_cells,
       5 AS content_start,
       5 + length({_NORM}) AS content_end
FROM documents
"""


def flagship(spark, sf):
    """Per-lang rollup of kernel output: doc count, extracted volume,
    table count (the entry() smoke query). `lang` rides the kernel's
    Arrow batch (run_extraction carry=) — no join back to the scan, so
    at corpus scale the rollup is scan → kernel → one hash agg."""
    r = run_extraction(
        pages_from_documents(spark, sf), carry=("lang",))
    return (
        r.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tables").alias("n_tables"),
            F.sum(F.length(F.decode("extracted_text", "utf-8"))).alias(
                "extracted_chars"),
        )
        .orderBy("lang")
    )


FLAGSHIP_SQL = f"""
SELECT lang, count(*) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_tables,
       CAST(sum(length({_NORM})) AS BIGINT) AS extracted_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def ex5_domain_rollup(spark, sf):
    """Per-domain accounting over kernel output — the Common-Crawl
    bookkeeping shape (per-domain doc caps / quality priors key on the
    registered domain): synthesize a realistic URL per page
    (https://<source>.example/<doc_id>), run the kernel, parse the
    host back OUT of the url column with parse_url, and roll up docs +
    extracted volume per domain. Plan: scan → kernel (mapInArrow) →
    one hash agg on the parsed host — the parse is a JVM scalar
    projection, no join, no second shuffle."""
    pages = pages_from_documents(
        spark, sf,
        url=F.concat(F.lit("https://"), F.col("source"),
                     F.lit(".example/"), F.col("doc_id").cast("string")))
    r = run_extraction(pages)
    return (
        r.select(
            F.parse_url("url", F.lit("HOST")).alias("domain"),
            F.length(F.decode("extracted_text", "utf-8")).alias("chars"),
        )
        .groupBy("domain")
        .agg(F.count("*").alias("n_docs"),
             F.sum("chars").alias("extracted_chars"))
    )


EX5_SQL = f"""
SELECT source || '.example' AS domain,
       count(*) AS n_docs,
       CAST(sum(length({_NORM})) AS BIGINT) AS extracted_chars
FROM documents GROUP BY source
"""


def ex6_sql_surface(spark, sf):
    """The kernel through the PURE-SQL surface: register_extract_udf +
    spark.sql over a temp view — proves a SQL-only user gets the same
    extraction (same kernel, same Arrow batching) as the plan-level
    run_extraction path. Output mirrors ex1 plus the scalar counters."""
    pages_from_documents(spark, sf).createOrReplaceTempView("_ex6_pages")
    from ..plans.extract import register_extract_udf

    register_extract_udf(spark)
    return spark.sql("""
        SELECT url,
               CAST(r.extracted_text AS STRING) AS extracted,
               r.n_pages, r.n_tables, r.n_content_spans
        FROM (SELECT url, extract_doc(html) AS r FROM _ex6_pages)
    """)


EX6_SQL = f"""
SELECT CAST(doc_id AS VARCHAR) AS url, {_NORM} AS extracted,
       1 AS n_pages, 1 AS n_tables, 1 AS n_content_spans
FROM documents
"""


QUERIES = {
    "ex1_kernel_text": (ex1_kernel_text, EX1_SQL),
    "ex6_sql_surface": (ex6_sql_surface, EX6_SQL),
    "ex2_kernel_tables": (ex2_kernel_tables, EX2_SQL),
    "ex3_kernel_spans": (ex3_kernel_spans, EX3_SQL),
    "ex4_flagship_rollup": (flagship, FLAGSHIP_SQL),
    "ex5_domain_rollup": (ex5_domain_rollup, EX5_SQL),
}
