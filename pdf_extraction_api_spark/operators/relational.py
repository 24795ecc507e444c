"""Relational operator queries (SURVEY.md §2.2-2.6) with DuckDB oracles.

Each entry re-expresses one reference operator row over the driver's
TPC-H-ish tables. Conventions (driver compare contract):
- every computed column aliased identically in Spark and SQL;
- doubles rounded (round 2-6) on BOTH sides so ulp noise from
  different summation orders can't flip the value hash;
- DuckDB HUGEINT sums cast to BIGINT to match Spark's long.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


SPREAD_MULT = 1  # partitions per core; A/B'd per consumer below
_log = logging.getLogger(__name__)


def spread(df: DataFrame, *key: str) -> DataFrame:
    """Hash-repartition a CPU-heavy relation across the session's
    cores when its scan arrives with fewer splits than the machine has
    workers (guide §2.5 input-skew rule: a small/single-row-group
    parquet file is unsplittable below the row-group, so every
    downstream map-side compute — tokenize/shingle/minhash, the
    extraction kernel, HOF vector math — serializes onto one task no
    matter how many cores exist).

    Scale-adaptive, not a local[32] constant: the target is the
    session's defaultParallelism and the repartition only fires when
    the scan has FEWER partitions than that — at production scale a
    100 TB table scans as >> cores splits and this is a no-op (the
    byte-sized scan splits are already the right balancing unit, and
    shuffling the payload to "re-balance" it would be pure cost —
    plans/extract.py's no-pre-kernel-shuffle note). One partition per
    core: wave-smoothing multipliers (x4) were A/B'd and LOST on the
    Python-heavy consumers (ex4 1.56s vs 1.10s, mm_image_metrics
    3.97s vs 3.17s at sf1.0) — every extra mapInArrow/applyInArrow
    task pays an Arrow-stream + worker handshake that outweighs the
    straggler tail. The hash key (unique id) is deterministic, so
    task retries can't duplicate rows (guide §2.5 rand-key warning),
    and keyed hash partitioning skips round-robin's
    sort-before-repartition pass over the payload."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= cores:
        return df  # production shape: plenty of splits, never probe
    # Few files: byte-range splits overstate parallelism because a
    # parquet reader cannot split below a row group (a 130 MB file
    # with 6 row groups yields 126 splits but only 6 carry rows), so
    # count row groups from the footers — bounded work, only ever for
    # fewer-files-than-cores inputs. Footers open through pyarrow.fs,
    # so any URI scheme pyarrow can read (file:, s3:, gs:, hdfs:) counts.
    if not files:
        return df  # no file list (e.g. an in-memory relation)
    import pyarrow.parquet as pq
    from pyarrow.fs import FileSystem

    eff = 0
    for f in files:
        try:
            fs, path = FileSystem.from_uri(f)
            with fs.open_input_file(path) as fh:
                eff += pq.ParquetFile(fh).num_row_groups
        except Exception as exc:
            # fail open rather than ask df.rdd for its partition count,
            # which plans the scan at query-construction time
            _log.warning("spread(): cannot read the parquet footer of "
                         "%s (%s); input left unpartitioned", f, exc)
            return df
    if eff >= cores:
        return df
    return df.repartition(cores * SPREAD_MULT, *[F.col(k) for k in key])


# --------------------------------------------------------------- filters
def f1_min_size(spark, sf):
    """F1 min-size filter (two-sided predicate; ref image w>=100&h>=100)."""
    return (
        T(spark, sf, "part")
        .filter((F.col("p_size") >= 25) & (F.col("p_retailprice") >= 1200.0))
        .select("p_partkey", "p_name", "p_size")
    )


F1_SQL = """
SELECT p_partkey, p_name, p_size FROM part
WHERE p_size >= 25 AND p_retailprice >= 1200.0
"""


def f2_min_quality(spark, sf):
    """F2 min-quality threshold filter (ref quality_score >= 0.3)."""
    return (
        T(spark, sf, "supplier")
        .filter(F.col("s_acctbal") >= 3000.0)
        .select("s_suppkey", "s_name")
    )


F2_SQL = "SELECT s_suppkey, s_name FROM supplier WHERE s_acctbal >= 3000.0"


def f4_validity(spark, sf):
    """F4 table-validity analog: groups with >=2 members and >=20%
    'non-empty' (discounted) share."""
    return (
        T(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.avg(F.when(F.col("l_discount") > 0, 1.0).otherwise(0.0)), 6
            ).alias("nonempty_share"),
        )
        .filter((F.col("n_lines") >= 2) & (F.col("nonempty_share") >= 0.2))
    )


F4_SQL = """
SELECT l_orderkey, count(*) AS n_lines,
       CAST(round(avg(CASE WHEN l_discount > 0 THEN 1.0 ELSE 0.0 END), 6)
            AS DOUBLE) AS nonempty_share
FROM lineitem GROUP BY l_orderkey
HAVING count(*) >= 2
   AND avg(CASE WHEN l_discount > 0 THEN 1.0 ELSE 0.0 END) >= 0.2
"""


def f5_threshold(spark, sf):
    """F5 vector-count threshold (ref >=10 drawings per page)."""
    return (
        T(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("n_events") >= 10)
    )


F5_SQL = """
SELECT user_id, count(*) AS n_events FROM events
GROUP BY user_id HAVING count(*) >= 10
"""


def f7_range_slice(spark, sf):
    """F7 page-range predicate (BETWEEN slice + count)."""
    return (
        T(spark, sf, "orders")
        .filter(
            F.col("o_orderdate").between("2024-02-01", "2024-04-30 23:59:59")
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


F7_SQL = """
SELECT o_orderstatus, count(*) AS n FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '2024-02-01 00:00:00'
                      AND TIMESTAMP '2024-04-30 23:59:59'
GROUP BY o_orderstatus
"""


def f9_title_candidate(spark, sf):
    """F9 title-candidate predicate: 10 < len < 100 within first-3 rank
    (window rank <= 3 per group, W2 shape)."""
    w = Window.partitionBy("p_brand").orderBy("p_partkey")
    return (
        T(spark, sf, "part")
        .withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 3) & (F.length("p_name") > 10)
                & (F.length("p_name") < 100))
        .select("p_brand", "p_partkey", "p_name")
    )


F9_SQL = """
SELECT p_brand, p_partkey, p_name FROM (
  SELECT p_brand, p_partkey, p_name,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_partkey) AS rk
  FROM part
) WHERE rk <= 3 AND length(p_name) > 10 AND length(p_name) < 100
"""


# ----------------------------------------------------------------- joins
def j1_packaging_join(spark, sf):
    """J1 equi inner join, small side broadcast (ref metadata⋈files)."""
    o = T(spark, sf, "orders")
    c = T(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


J1_SQL = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def j2_range_join(spark, sf):
    """J2 theta/range join (ref caption geometry): events banded into
    static value ranges via a broadcast non-equi join. The bands are an
    inline VALUES table (a JVM-side local relation): createDataFrame
    over a Python list ran a Python-worker job for three literal rows.
    VALUES reads 0.0 as DECIMAL, hence the casts to events.value's
    DOUBLE."""
    spark_bands = spark.sql("""
        SELECT band, CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi
        FROM VALUES ('tiny', 0.0, 10.0), ('small', 10.0, 100.0),
                    ('large', 100.0, 1000.0) AS bands(band, lo, hi)
    """)
    e = T(spark, sf, "events")
    return (
        e.join(
            F.broadcast(spark_bands),
            (e.value >= spark_bands.lo) & (e.value < spark_bands.hi),
            "inner",
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


J2_SQL = """
WITH bands(band, lo, hi) AS (
  VALUES ('tiny', 0.0, 10.0), ('small', 10.0, 100.0),
         ('large', 100.0, 1000.0))
SELECT band, count(*) AS n,
       CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
FROM events JOIN bands ON value >= lo AND value < hi
GROUP BY band
"""


def j3_anti_verify(spark, sf):
    """J3 verification anti-join (ref metadata_files − actual_files)."""
    c = T(spark, sf, "customer")
    o = T(spark, sf, "orders").select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


J3_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def j4_resume_anti(spark, sf):
    """J4 resume anti-join: inputs minus the committed set."""
    o = T(spark, sf, "orders")
    done = (
        T(spark, sf, "lineitem")
        .filter(F.col("l_linestatus") == "F")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
    )
    return (
        o.join(F.broadcast(done), "o_orderkey", "left_anti")
        .select("o_orderkey", "o_orderstatus")
    )


J4_SQL = """
SELECT o_orderkey, o_orderstatus FROM orders
WHERE o_orderkey NOT IN (
  SELECT DISTINCT l_orderkey FROM lineitem WHERE l_linestatus = 'F')
"""


def j5_semi(spark, sf):
    """Semi complement of J3/J4 (orders that DO have an 'F' line)."""
    o = T(spark, sf, "orders")
    has = (
        T(spark, sf, "lineitem")
        .filter(F.col("l_linestatus") == "F")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return o.join(has, "o_orderkey", "left_semi").select(
        "o_orderkey", "o_totalprice")


J5_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_linestatus = 'F')
"""


# ------------------------------------------------------------ aggregates
def a1_count_by_method(spark, sf):
    return T(spark, sf, "events").groupBy("event_type").agg(
        F.count("*").alias("n"))


A1_SQL = "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"


def a2_count_by_type(spark, sf):
    return T(spark, sf, "documents").groupBy("lang").agg(
        F.count("*").alias("n"))


A2_SQL = "SELECT lang, count(*) AS n FROM documents GROUP BY lang"


def a3_quality_histogram(spark, sf):
    """A3 3-bucket histogram (ref high>=0.7 / medium>=0.4 / low)."""
    bucket = (
        F.when(F.col("s_acctbal") >= 7000.0, "high")
        .when(F.col("s_acctbal") >= 4000.0, "medium")
        .otherwise("low")
    )
    return (
        T(spark, sf, "supplier")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


A3_SQL = """
SELECT CASE WHEN s_acctbal >= 7000.0 THEN 'high'
            WHEN s_acctbal >= 4000.0 THEN 'medium'
            ELSE 'low' END AS bucket,
       count(*) AS n
FROM supplier GROUP BY 1
"""


def a4_distinct_with_content(spark, sf):
    """A4 pages-with-content: conditional countDistinct."""
    return T(spark, sf, "events").agg(
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_users_purchasing")
    )


A4_SQL = """
SELECT count(DISTINCT CASE WHEN event_type = 'purchase'
                           THEN user_id END) AS n_users_purchasing
FROM events
"""


def a5_bool_rate(spark, sf):
    """A5 OCR-success-rate shape: avg of a boolean indicator."""
    return T(spark, sf, "documents").agg(
        F.round(
            F.avg(F.when(F.col("text").contains("table"), 1.0)
                  .otherwise(0.0)), 6
        ).alias("hit_rate")
    )


A5_SQL = """
SELECT CAST(round(avg(CASE WHEN contains(text, 'table') THEN 1.0
                           ELSE 0.0 END), 6) AS DOUBLE) AS hit_rate
FROM documents
"""


def a6_mode(spark, sf):
    """A6 modal value (argmax by count; ties → smallest value, the
    kernel's deterministic modal rule)."""
    counts = (
        T(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linenumber")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("cnt"), F.asc("l_linenumber"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_returnflag", F.col("l_linenumber").alias("modal_value"),
                "cnt")
    )


A6_SQL = """
SELECT l_returnflag, l_linenumber AS modal_value, cnt FROM (
  SELECT l_returnflag, l_linenumber, count(*) AS cnt,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY count(*) DESC, l_linenumber ASC) AS rk
  FROM lineitem GROUP BY l_returnflag, l_linenumber
) WHERE rk = 1
"""


def a7_completeness(spark, sf):
    """A7 completeness ratio: non-empty share per group."""
    return (
        T(spark, sf, "documents")
        .groupBy("source")
        .agg(
            F.round(
                F.avg(F.when(F.length("text") > 0, 1.0).otherwise(0.0)), 6
            ).alias("completeness")
        )
    )


A7_SQL = """
SELECT source,
       CAST(round(avg(CASE WHEN length(text) > 0 THEN 1.0 ELSE 0.0 END), 6)
            AS DOUBLE) AS completeness
FROM documents GROUP BY source
"""


def a8_numeric_pct(spark, sf):
    """A8 numeric percentage via try_cast over extracted values."""
    e = T(spark, sf, "events")
    vals = e.select(
        F.get_json_object("props", "$.k").alias("v"))
    return vals.agg(
        F.round(
            F.avg(
                F.when(F.expr("try_cast(v AS DOUBLE)").isNotNull(), 1.0)
                .otherwise(0.0)
            ), 6
        ).alias("numeric_pct")
    )


A8_SQL = """
SELECT CAST(round(avg(CASE WHEN try_cast(json_extract_string(props, '$.k')
                                         AS DOUBLE) IS NOT NULL
                           THEN 1.0 ELSE 0.0 END), 6)
            AS DOUBLE) AS numeric_pct
FROM events
"""


def a9_empty_pct(spark, sf):
    """A9 empty-cell percentage: (NULL + '') share over extracted
    values — same shape as A8 (ref
    enterprise_table_extractor_full.py:946-953)."""
    e = T(spark, sf, "events")
    v = F.get_json_object("props", "$.k")
    return e.agg(
        F.round(
            F.avg(
                F.when(v.isNull() | (v == ""), 1.0).otherwise(0.0)
            ), 6
        ).alias("empty_pct")
    )


A9_SQL = """
SELECT CAST(round(avg(CASE WHEN json_extract_string(props, '$.k') IS NULL
                             OR json_extract_string(props, '$.k') = ''
                           THEN 1.0 ELSE 0.0 END), 6)
            AS DOUBLE) AS empty_pct
FROM events
"""


def a10_type_consistency(spark, sf):
    """A10 per-column type-consistency: share of groups whose indicator
    rate is >80% or <20% (two-level aggregation)."""
    per_group = (
        T(spark, sf, "documents")
        .groupBy("source")
        .agg(
            F.avg(
                F.when(F.col("text").contains("spark"), 1.0).otherwise(0.0)
            ).alias("frac")
        )
    )
    return per_group.agg(
        F.round(
            F.avg(
                F.when(
                    (F.col("frac") > 0.8) | (F.col("frac") < 0.2), 1.0
                ).otherwise(0.0)
            ), 6
        ).alias("consistency")
    )


A10_SQL = """
SELECT CAST(round(avg(CASE WHEN frac > 0.8 OR frac < 0.2
                           THEN 1.0 ELSE 0.0 END), 6)
            AS DOUBLE) AS consistency
FROM (
  SELECT source, avg(CASE WHEN contains(text, 'spark') THEN 1.0
                          ELSE 0.0 END) AS frac
  FROM documents GROUP BY source
)
"""


def a11_grand_totals(spark, sf):
    """A11 run-stats grand totals (TPC-H Q1-shaped pricing summary)."""
    li = T(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= "2024-09-01")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


A11_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
           AS sum_disc_price,
       CAST(round(avg(l_quantity), 4) AS DOUBLE) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------- windows/sorts/limits
def w1_row_number(spark, sf):
    """W1 per-group sequential index (first 3 orders per customer)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        T(spark, sf, "orders")
        .withColumn("order_seq", F.row_number().over(w))
        .filter(F.col("order_seq") <= 3)
        .select("o_custkey", "o_orderkey", "order_seq")
    )


W1_SQL = """
SELECT o_custkey, o_orderkey, order_seq FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS order_seq
  FROM orders
) WHERE order_seq <= 3
"""


def w3_topk(spark, sf):
    """W3 top-10 by size (TakeOrderedAndProject short-circuit)."""
    return (
        T(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


W3_SQL = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def w4_sorted_counts(spark, sf):
    """W4 count-ordered summary report."""
    return (
        T(spark, sf, "part")
        .groupBy("p_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("p_type"))
    )


W4_SQL = """
SELECT p_type, count(*) AS n FROM part
GROUP BY p_type ORDER BY n DESC, p_type ASC
"""


def l1_limit(spark, sf):
    """L1 deterministic head-N cap (ordered limit)."""
    return (
        T(spark, sf, "documents")
        .orderBy("doc_id")
        .limit(20)
        .select("doc_id", "lang")
    )


L1_SQL = "SELECT doc_id, lang FROM documents ORDER BY doc_id LIMIT 20"


# --------------------------------------------------------------- set ops
def u1_union(spark, sf):
    """U1 bag union of per-method results (duplicates kept)."""
    e = T(spark, sf, "events")
    a = e.filter(F.col("event_type") == "error").select(
        "event_id", "event_type")
    b = e.filter(F.col("value") > 90.0).select("event_id", "event_type")
    return a.unionByName(b)


U1_SQL = """
SELECT event_id, event_type FROM events WHERE event_type = 'error'
UNION ALL
SELECT event_id, event_type FROM events WHERE value > 90.0
"""


def u2_except(spark, sf):
    """U2 set difference (ref missing-files check)."""
    all_keys = T(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"))
    with_orders = T(spark, sf, "orders").select(
        F.col("o_custkey").alias("k"))
    return all_keys.exceptAll(with_orders.distinct()).distinct()


U2_SQL = """
SELECT c_custkey AS k FROM customer
EXCEPT
SELECT o_custkey AS k FROM orders
"""


def u3_distinct(spark, sf):
    return T(spark, sf, "documents").select("lang", "source").distinct()


U3_SQL = "SELECT DISTINCT lang, source FROM documents"


def u4_intersect(spark, sf):
    """U4 intersect (absent from the reference — engine completeness
    row): langs present in BOTH the first and second half of the
    corpus."""
    d = T(spark, sf, "documents")
    # scalar via broadcast join, not .collect(): stays one plan
    half = d.agg(
        F.floor(F.max("doc_id") / 2).cast("long").alias("half"))
    dh = d.crossJoin(F.broadcast(half))
    a = dh.filter(F.col("doc_id") <= F.col("half")).select("lang")
    b = dh.filter(F.col("doc_id") > F.col("half")).select("lang")
    return a.intersect(b)


U4_SQL = """
SELECT lang FROM documents
WHERE doc_id <= (SELECT max(doc_id) // 2 FROM documents)
INTERSECT
SELECT lang FROM documents
WHERE doc_id > (SELECT max(doc_id) // 2 FROM documents)
"""


def a15_dispersion(spark, sf):
    """Quantile/dispersion aggregates (corpus-stats staple): exact
    interpolated percentiles + sample stddev per group. Spark's
    percentile() and DuckDB's quantile_cont share the linear-
    interpolation definition; values rounded so ulp noise from
    different summation orders can't flip the hash."""
    li = T(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4)
            .alias("median_qty"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 4)
            .alias("p90_qty"),
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        )
    )


A15_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
       round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
       round(stddev_samp(l_quantity), 4) AS sd_qty
FROM lineitem GROUP BY l_returnflag
"""


def _views(spark, sf, *names):
    """Register parquet tables as temp views for SQL-surface queries
    (subquery shapes exercise Catalyst's RewriteSubquery paths, which
    the DataFrame API can't spell directly)."""
    for n in names:
        T(spark, sf, n).createOrReplaceTempView(n)


def f10_scalar_subquery(spark, sf):
    """Scalar-subquery filter: rows above a corpus-level aggregate
    (uncorrelated scalar subquery → Catalyst plans a broadcast of the
    1-row side; exact: integer avg is order-independent)."""
    _views(spark, sf, "lineitem")
    return spark.sql("""
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE l_quantity > (SELECT avg(l_quantity) + 20 FROM lineitem)
    """)


F10_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_quantity > (SELECT avg(l_quantity) + 20 FROM lineitem)
"""


def j6_exists_correlated(spark, sf):
    """Correlated EXISTS (beyond plain key semi-join: an extra local
    predicate inside the subquery; Catalyst rewrites to LeftSemi with
    the pushed condition)."""
    _views(spark, sf, "part", "lineitem")
    return spark.sql("""
        SELECT p_partkey, p_name FROM part p
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey
                        AND l.l_quantity >= 49)
    """)


J6_SQL = """
SELECT p_partkey, p_name FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 49)
"""


def q18_big_orders(spark, sf):
    """TPC-H Q18 shape: HAVING-filtered IN-subquery over the fact
    table, 3-way join, re-aggregate, ordered top-k."""
    _views(spark, sf, "customer", "orders", "lineitem")
    return spark.sql("""
        SELECT c_name, c_custkey, o_orderkey, o_totalprice,
               CAST(sum(l_quantity) AS DOUBLE) AS total_qty
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
        GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """)


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_totalprice,
       CAST(sum(l_quantity) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def a14_cube(spark, sf):
    """CUBE over (returnflag, linestatus) — all 4 grouping levels in
    one pass (grouping nulls coalesced to 'ALL' on both engines so the
    hash compare never sorts None against str)."""
    li = T(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("lstatus"),
            "n",
        )
    )


A14_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS rflag,
       coalesce(l_linestatus, 'ALL') AS lstatus,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
"""


def d1_dedup_hash(spark, sf):
    """D1 dedup by content hash, deterministic first-wins
    (row_number over hash partition ordered by arrival key)."""
    d = T(spark, sf, "documents").withColumn("h", F.md5("text"))
    w = Window.partitionBy("h").orderBy("doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("h", F.col("doc_id").alias("keeper_id"))
    )


D1_SQL = """
SELECT h, doc_id AS keeper_id FROM (
  SELECT md5(text) AS h, doc_id,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
  FROM documents
) WHERE rk = 1
"""


def aj_asof_join(spark, sf):
    """As-of join (operator Spark lacks natively): each purchase event
    matched to the latest prior 'view' by the same user (v_ts <= p_ts,
    tiebreak v_ts DESC then v_id DESC). Sort-based formulation: union
    both event kinds into ONE stream, sort each user's events by
    (ts, is_purchase, event_id) — views before purchases at equal ts,
    so same-instant views qualify, and among equal-ts views the max
    event_id sorts last — then a running last(view_id, ignorenulls)
    window carries the as-of match to each purchase row. ONE shuffle
    (hash on user_id), ZERO join: the naive ranged-join + argmax plan
    materializes n_views x n_purchases rows PER USER before pruning —
    one bot user with 1e6 views and 1e5 purchases is 1e11 intermediate
    rows — while this plan is strictly linear in that user's events.
    The oracle keeps the per-purchase argmax window formulation so tie
    handling is checked cross-engine, not shared."""
    e = T(spark, sf, "events").filter(
        F.col("event_type").isin("view", "purchase"))
    ev = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        F.when(F.col("event_type") == "view",
               F.col("event_id")).alias("view_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.withColumn(
            "last_view", F.last("view_id", ignorenulls=True).over(w))
        .filter((F.col("is_p") == 1) & F.col("last_view").isNotNull())
        .select(
            F.col("event_id").alias("p_id"),
            F.col("last_view").alias("asof_view_id"),
        )
    )


AJ_ASOF_SQL = """
SELECT p_id, v_id AS asof_view_id FROM (
  SELECT p.event_id AS p_id, v.event_id AS v_id,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rk
  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
  JOIN (SELECT * FROM events WHERE event_type = 'view') v
    ON p.user_id = v.user_id AND v.ts <= p.ts
) WHERE rk = 1
"""


def a13_rollup(spark, sf):
    """Hierarchical rollup totals (free from Catalyst, SURVEY §2.4
    note) with grouping-set id."""
    return (
        T(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.grouping_id().alias("lvl"),
        )
    )


A13_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS lvl
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def a16_grouping_sets(spark, sf):
    """Arbitrary GROUPING SETS (the third grouping form next to
    a13_rollup / a14_cube): totals by (returnflag), by (linestatus),
    and the grand total in ONE pass — the exact set list, not the
    rollup hierarchy or the full cube. Spark route: groupingSets via
    SQL (the DataFrame API gained it only in 4.0's cube/rollup
    generalization; SQL is the stable surface). One Expand + one
    hash agg, same plan class as rollup."""
    e = T(spark, sf, "lineitem")
    e.createOrReplaceTempView("a16_lineitem")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               grouping(l_returnflag) AS g_flag,
               grouping(l_linestatus) AS g_status
        FROM a16_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


A16_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q3_shipping_topk(spark, sf):
    """TPC-H Q3-shaped 3-way join → agg → top-k (the multi-join
    reordering + TakeOrdered headline)."""
    c = T(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf, "orders").filter(
        F.col("o_orderdate") < "1998-06-01")
    li = T(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > "1998-06-01")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
         AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
"""


def ev_sessionize(spark, sf):
    """Sessionization: lag + cumulative-sum window (frame-spec window,
    the one window shape §2.5 noted as unused by the reference — added
    as part of the events-pipeline surface). New session when the gap
    to the previous event of the same user exceeds 30 minutes."""
    e = T(spark, sf, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval arithmetic on the NTZ column: microsecond-exact AND
    # session-timezone independent (an epoch cast would shift with the
    # session tz and could flip the boundary across DST transitions)
    prev = F.lag("ts").over(w_user)
    with_new = e.withColumn(
        "is_new",
        F.when(
            prev.isNull()
            | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")), 1
        ).otherwise(0))
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = with_new.withColumn(
        "session_no", F.sum("is_new").over(w_cum))
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


EV_SESSION_SQL = """
SELECT user_id, session_no, count(*) AS n_events,
       CAST(round(sum(value), 2) AS DOUBLE) AS session_value
FROM (
  SELECT user_id, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_no
  FROM (
    SELECT user_id, ts, event_id, value,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                  > INTERVAL 30 MINUTE
                OR lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events))
GROUP BY user_id, session_no
"""


def ev_tumbling(spark, sf):
    """Tumbling-window rollup: per (hour, event_type) counts + value
    totals over window(ts, '1 hour'). At scale this is one hash agg;
    Spark's windows are epoch-aligned, so the oracle's time_bucket
    starts agree with them on boundaries."""
    e = T(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"), "event_type",
            "n_events", "total_value")
    )


EV_TUMBLING_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
       count(*) AS n_events,
       CAST(round(sum(value), 2) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def ev_hopping(spark, sf):
    """Hopping (sliding) window rollup — completes the window family
    (tumbling / session-gap / frame-based moving stats): 1-hour
    windows every 30 minutes, so each event contributes to exactly 2
    overlapping windows. Spark plans the multi-window membership as
    one Expand (factor = size/hop) feeding a single hash agg — no
    join, no explode of a generated array. The oracle reproduces the membership set with a 2-offset lateral off
    epoch-aligned time_bucket starts (Spark windows are
    epoch-aligned, which is what makes the two agree)."""
    e = T(spark, sf, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"),
            "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("win_start"), "event_type",
            "n_events", "total_value")
    )


EV_HOPPING_SQL = """
SELECT win_start, event_type, count(*) AS n_events,
       CAST(round(sum(value), 2) AS DOUBLE) AS total_value
FROM (
  SELECT time_bucket(INTERVAL '30 minutes', ts)
           - o.o * INTERVAL '30 minutes' AS win_start,
         event_type, value
  FROM events, LATERAL (SELECT unnest(range(2)) AS o) o)
GROUP BY 1, 2
"""


def q5_local_supplier(spark, sf):
    """TPC-H Q5-shaped 6-way join (region⋈nation⋈customer⋈supplier⋈
    orders⋈lineitem): dimension chain broadcasts, fact joins shuffle on
    their keys, revenue by nation. Exercises join reordering across the
    full star schema."""
    r = T(spark, sf, "region")
    n = T(spark, sf, "nation")
    c = T(spark, sf, "customer")
    s = T(spark, sf, "supplier")
    o = T(spark, sf, "orders")
    li = T(spark, sf, "lineitem")
    dim = (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    # NOT spread (r8 A/B): every dimension broadcasts, so lineitem is
    # the probe side of one 4-deep BHJ stage with row-group-capped
    # parallelism (6 tasks at sf1.0) — but repartitioning the 6M-row
    # probe side costs more than the extra cores recover (1.82s vs
    # ~1.55s); the cheap-probe work doesn't amortize a payload shuffle
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(dim), F.col("s_nationkey") == dim.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


Q5_SQL = """
SELECT n_name,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
         AS revenue,
       count(*) AS n_lines
FROM region, nation, customer, supplier, orders, lineitem
WHERE n_regionkey = r_regionkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND o_custkey = c_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
GROUP BY n_name
"""


def ev_moving_stats(spark, sf):
    """Frame-spec window aggregates over the event stream — the
    sliding/cumulative shapes (§2.5) beyond row_number/lag: 5-row
    moving average, running total, and delta vs the previous event,
    per user in (ts, event_id) order. One Window sort per user
    partition serves all three frames (Spark collapses same-spec
    windows into a single WindowExec); the partition key is user_id so
    the shuffle is the natural per-user co-location any event pipeline
    already has."""
    e = T(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w5 = w.rowsBetween(-4, Window.currentRow)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id", "user_id",
        F.round(F.avg("value").over(w5), 6).alias("mov_avg5"),
        F.round(F.sum("value").over(wcum), 6).alias("cum_value"),
        F.round(F.col("value") - F.lag("value").over(w), 6)
        .alias("delta_prev"),
    )


EV_MOVING_SQL = """
SELECT event_id, user_id,
       CAST(round(avg(value) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS DOUBLE)
         AS mov_avg5,
       CAST(round(sum(value) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING), 6) AS DOUBLE) AS cum_value,
       CAST(round(value - lag(value) OVER (PARTITION BY user_id
              ORDER BY ts, event_id), 6) AS DOUBLE) AS delta_prev
FROM events
"""


def p_unpivot(spark, sf):
    """UNPIVOT — wide→long reshaping (the inverse of ev_pivot): part's
    numeric attributes melt into (attr, val) rows via the native
    unpivot/melt API, which Catalyst expands to a zero-shuffle
    Generate — the long form feeds generic per-attribute aggregation
    without one query per column."""
    p = T(spark, sf, "part")
    return (
        p.select("p_partkey",
                 F.col("p_size").cast("double").alias("p_size"),
                 F.col("p_retailprice").cast("double")
                 .alias("p_retailprice"))
        .unpivot("p_partkey", ["p_size", "p_retailprice"],
                 "attr", "val")
    )


P_UNPIVOT_SQL = """
SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val
FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
FROM part
"""


_EVENT_TYPES = ("click", "view", "purchase", "scroll")


def ev_pivot(spark, sf):
    """PIVOT — long→wide reshaping of the event stream: per-user
    columns of counts per event type plus total value. The pivot value
    list is EXPLICIT, which matters twice at 100 TB: no extra
    discovery pass over the fact table, and a stable output schema
    (a runaway cardinality can't explode the column count). One hash
    agg; each pivot cell is a map-side-combinable conditional count."""
    e = T(spark, sf, "events")
    types = [t for t in _EVENT_TYPES]
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .withColumnsRenamed({t: f"n_{t}" for t in types})
    )


EV_PIVOT_SQL = """
SELECT user_id,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'view') AS n_view,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'scroll') AS n_scroll
FROM events GROUP BY user_id
"""


def ev_ranks(spark, sf):
    """The ranking-window family beyond row_number: rank (gapped),
    dense_rank, ntile(4) and percent_rank over value within each event
    type — the per-stratum scoring shape quality pipelines use for
    percentile cuts. All four functions share one window spec → one
    WindowExec, one shuffle on event_type."""
    e = T(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id"))
    return e.select(
        "event_id", "event_type",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


EV_RANKS_SQL = """
SELECT event_id, event_type,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4) OVER w AS quartile,
       CAST(round(percent_rank() OVER w, 6) AS DOUBLE) AS pct_rank
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id ASC)
"""


def ev_quantiles(spark, sf):
    """Exact per-stratum quantiles (p50/p90/p99 of value per event
    type) as ORDER STATISTICS: the value at rank ceil(p·n), all rank
    arithmetic integral (`div`), so no interpolation formula and no
    float literal exists to diverge between engines — the reported
    quantiles are exact stored doubles picked by rank, hash-safe by
    construction. (Spark's `percentile` and DuckDB's quantile_cont
    both interpolate, but with differently-associated expressions —
    a 1-ulp cross-engine wobble this formulation sidesteps.)

    Scale shape: one window per event_type (types sort in parallel;
    a single-type mega-stratum would need the salted two-level
    select) — at 100 TB the production path is approx_percentile /
    t-digest, this exact op is the verification baseline."""
    e = T(spark, sf, "events")
    # NULLS LAST pinned explicitly: Spark asc() is NULLS FIRST while
    # DuckDB window ASC defaults NULLS LAST — a future fixture with
    # NULL values would silently shift every rank between engines
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("value"), F.asc("event_id"))
    counts = e.groupBy("event_type").agg(F.count("*").alias("n"))
    ranked = (
        e.select("event_type", "value", "event_id")
        .withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(counts), "event_type")
    )
    def at(expr):
        return F.max(F.when(F.expr(expr) == F.col("rk"),
                            F.col("value")))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            at("(n + 1) div 2").alias("p50"),
            at("(9 * n + 9) div 10").alias("p90"),
            at("(99 * n + 99) div 100").alias("p99"),
        )
    )


EV_QUANTILES_SQL = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value ASC NULLS LAST,
                                     event_id ASC) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN rk = (n + 1) // 2 THEN value END) AS p50,
       max(CASE WHEN rk = (9 * n + 9) // 10 THEN value END) AS p90,
       max(CASE WHEN rk = (99 * n + 99) // 100 THEN value END) AS p99
FROM ranked GROUP BY event_type
"""


def ev_funnel(spark, sf):
    """Ordered conversion funnel (view → click → purchase): a user
    reaches stage k only via an event AFTER their stage-(k-1) entry
    time (first qualifying event each). Per stage: users reached +
    mean seconds from the previous stage.

    Cross-engine float discipline: the step delta is summed as EXACT
    epoch MICROSECONDS (BIGINT) and divided ONCE by n·1e6 — avg()
    over per-user float seconds would expose partial-aggregation
    summation order (Spark tree-aggregates, DuckDB is sequential)
    and flake the 6-dp round at a boundary.

    Scale shape: three per-user min-aggregates chained by equi joins
    on user_id (each stage's table shrinks), then three single-row
    rollups unioned — no windows, everything partial-aggregable."""
    e = T(spark, sf, "events")

    def us_diff(b, a):
        # NTZ-safe, tz-free microsecond delta: interval component
        # extraction (unix_micros rejects TIMESTAMP_NTZ, and an epoch
        # cast would shift with the session timezone — the
        # ev_sessionize convention). b > a is guaranteed by the stage
        # filters, so no negative-interval branch.
        return F.expr(
            f"extract(DAY FROM {b} - {a}) * 86400000000"
            f" + extract(HOUR FROM {b} - {a}) * 3600000000"
            # MINUTE extract is INT and 60000000 fits INT: 59 * 6e7
            # overflows int32 under ANSI — force the long lane
            f" + CAST(extract(MINUTE FROM {b} - {a}) AS BIGINT)"
            f"   * 60000000"
            f" + CAST(extract(SECOND FROM {b} - {a}) * 1000000"
            f"        AS BIGINT)")

    def first_after(etype, prev, prev_t):
        j = (e.filter(F.col("event_type") == etype)
             .join(prev, "user_id")
             .filter(F.col("ts") > F.col(prev_t)))
        return j.groupBy("user_id").agg(
            F.min("ts").alias(prev_t + "n"),
            F.max(prev_t).alias(prev_t + "p"))

    s1 = (e.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    s2 = first_after("click", s1, "t1").select(
        "user_id", F.col("t1n").alias("t2"), F.col("t1p").alias("t1"))
    s3 = first_after("purchase", s2, "t2").select(
        "user_id", F.col("t2n").alias("t3"), F.col("t2p").alias("t2"))

    def roll(df, no, name, a, b):
        d = us_diff(b, a) if a else F.lit(0)
        return df.agg(
            F.lit(no).alias("stage_no"), F.lit(name).alias("stage"),
            F.count("*").alias("n_users"),
            F.when(
                F.count("*") > 0,
                F.round(F.sum(d).cast("double")
                        / (F.count("*") * F.lit(1000000)), 6),
            ).otherwise(F.lit(0.0)).alias("avg_step_secs"),
        )

    return (roll(s1, 1, "view", None, None)
            .union(roll(s2, 2, "click", "t1", "t2"))
            .union(roll(s3, 3, "purchase", "t2", "t3")))


EV_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2, max(s1.t1) AS t1
  FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t1
  WHERE e.event_type = 'click' GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3, max(s2.t2) AS t2
  FROM events e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t2
  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT 1 AS stage_no, 'view' AS stage, count(*) AS n_users,
       0.0 AS avg_step_secs FROM s1
UNION ALL
SELECT 2, 'click', count(*),
       CASE WHEN count(*) > 0 THEN
         round(CAST(CAST(SUM(epoch_us(t2) - epoch_us(t1)) AS BIGINT)
               AS DOUBLE) / (count(*) * 1000000), 6)
       ELSE 0.0 END FROM s2
UNION ALL
SELECT 3, 'purchase', count(*),
       CASE WHEN count(*) > 0 THEN
         round(CAST(CAST(SUM(epoch_us(t3) - epoch_us(t2)) AS BIGINT)
               AS DOUBLE) / (count(*) * 1000000), 6)
       ELSE 0.0 END FROM s3
"""



def ev_retention(spark, sf):
    """Weekly cohort retention: cohort = a user's first active epoch
    week (integral `div` on days-since-epoch — calendar-free and
    NTZ/timezone-free, no date_trunc locale/week-start semantics to
    match across engines); for each (cohort_week, week_offset) report
    distinct active users, cohort size and the retention rate (one
    exact int/int division).

    Scale shape: one distinct (user, week) projection, one min-agg
    for cohorts, one equi join back, one count-distinct rollup — all
    hash-partial; no windows."""
    e = T(spark, sf, "events")
    wk = F.expr("datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7")
    weeks = e.select("user_id", wk.alias("wk")).distinct()
    cohort = weeks.groupBy("user_id").agg(F.min("wk").alias("cw"))
    sizes = cohort.groupBy("cw").agg(
        # cohort rows are unique per user (groupBy output) — a plain
        # count avoids the Expand + two-phase distinct aggregate
        F.count("*").alias("n_cohort"))
    return (
        weeks.join(cohort, "user_id")
        .groupBy("cw", (F.col("wk") - F.col("cw")).alias("week_offset"))
        # weeks is DISTINCT (user, wk): one row per user per offset
        .agg(F.count("*").alias("n_active"))
        .join(F.broadcast(sizes), "cw")
        .select(
            F.col("cw").alias("cohort_week"), "week_offset",
            "n_active", "n_cohort",
            F.round(F.col("n_active")
                    / F.col("n_cohort").cast("double"), 6).alias("rate"),
        )
    )


EV_RETENTION_SQL = """
WITH weeks AS (
  SELECT DISTINCT user_id,
         CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
              AS BIGINT) AS wk
  FROM events),
cohort AS (SELECT user_id, min(wk) AS cw FROM weeks GROUP BY user_id),
sizes AS (
  SELECT cw, count(*) AS n_cohort
  FROM cohort GROUP BY cw)
SELECT c.cw AS cohort_week, w.wk - c.cw AS week_offset,
       count(*) AS n_active, max(s.n_cohort) AS n_cohort,
       CAST(round(count(*)
                  / CAST(max(s.n_cohort) AS DOUBLE), 6) AS DOUBLE)
         AS rate
FROM weeks w
JOIN cohort c ON c.user_id = w.user_id
JOIN sizes s ON s.cw = c.cw
GROUP BY c.cw, w.wk - c.cw
"""


PR_ITERS = 3    # unrolled PageRank iterations
PR_CAP = 64     # max distinct items per user feeding the pair join
PR_TOPK = 20
PR_NANO = 1_000_000_000   # fixed-point unit: total rank mass


def ev_item_pagerank(spark, sf):
    """PageRank over the item co-click graph — the iterative graph
    primitive (beyond dd_components' connected components): items are
    props.k of click events, an undirected edge links items a common
    user clicked, and PR_ITERS damped iterations (d=0.85) rank items
    by centrality. The arithmetic is EXACT FIXED-POINT: rank lives in
    integer nano units, each neighbor contribution is pr_nano div
    degree and the damping is (85*sum) div 100 — every step is BIGINT,
    so no float summation order exists anywhere and DuckDB replays
    the identical trajectory (values are within iter*1e-9 of float
    PageRank; the integer contract IS the operator semantics).

    Scale shape: the per-user pair join is capped at PR_CAP distinct
    items per user (the capped_bucket_pairs discipline — a bot user
    contributes at most CAP^2 pairs, not clicks^2); each iteration is
    one join pr->edges plus one map-side-combinable sum per target;
    the iteration count is a fixed constant so the plan is a static
    chain, no driver-side convergence probes."""
    e = T(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    ui = (e.filter(F.col("event_type") == "click")
          .select("user_id", k.alias("item")).distinct())
    w_cap = Window.partitionBy("user_id").orderBy("item")
    ui = (ui.withColumn("rk", F.row_number().over(w_cap))
          .filter(F.col("rk") <= PR_CAP).drop("rk"))
    # edges feeds every iteration and pr feeds both the contribution
    # join and the rank update — without lineage truncation the
    # unrolled tree re-derives the user-pair self-join 2^PR_ITERS
    # times (round-7 plan audit). LAZY localCheckpoint (not the eager
    # kmeans_cells kind — plan build stays lazy) materializes each
    # item-sized table once; at cluster scale the reliable-checkpoint
    # variant trades executor-loss recompute for the same shape.
    edges = (ui.alias("a").join(ui.alias("b"), "user_id")
             .filter(F.col("a.item") != F.col("b.item"))
             .select(F.col("a.item").alias("src"),
                     F.col("b.item").alias("dst")).distinct()
             .localCheckpoint(eager=False))
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    n_nodes = deg.agg(F.count("*").alias("n"))
    pr = (deg.join(F.broadcast(n_nodes))
          .select(F.col("src").alias("item"), "d",
                  F.expr(f"CAST({PR_NANO} AS BIGINT) div n")
                  .alias("pr_nano"), "n"))
    for _ in range(PR_ITERS):
        pr = pr.localCheckpoint(eager=False)
        contrib = (pr.join(edges, pr.item == edges.src)
                   .select(F.col("dst").alias("item"),
                           F.expr("pr_nano div d").alias("c")))
        sums = contrib.groupBy("item").agg(F.sum("c").alias("s"))
        pr = (pr.drop("pr_nano").join(sums, "item", "left")
              .select("item", "d", "n",
                      (F.expr(f"CAST({15 * PR_NANO // 100} AS BIGINT)"
                              " div n")
                       + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT)))"
                                " div 100")).alias("pr_nano")))
    return (pr.select("item", "d", "pr_nano",
                      F.round(F.col("pr_nano").cast("double")
                              / F.lit(float(PR_NANO)), 9).alias("pr"))
            .orderBy(F.desc("pr_nano"), F.asc("item"))
            .limit(PR_TOPK))


def _pagerank_sql() -> str:
    teleport = f"(CAST({15 * PR_NANO // 100} AS BIGINT) // n)"
    its = ""
    prev = "it0"
    for i in range(1, PR_ITERS + 1):
        its += f""",
sums{i} AS (
  SELECT e.dst AS item,
         CAST(sum(p.pr_nano // p.d) AS BIGINT) AS s
  FROM {prev} p JOIN edges e ON e.src = p.item
  GROUP BY e.dst),
it{i} AS (
  SELECT p.item, p.d, p.n,
         {teleport} + (85 * coalesce(s.s, CAST(0 AS BIGINT))) // 100
           AS pr_nano
  FROM (SELECT item, d, n FROM {prev}) p
  LEFT JOIN sums{i} s ON s.item = p.item)"""
        prev = f"it{i}"
    return f"""
WITH ui0 AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'click'),
ui AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id ORDER BY item)
             AS rk
    FROM ui0) WHERE rk <= {PR_CAP}),
edges AS (
  SELECT DISTINCT a.item AS src, b.item AS dst
  FROM ui a JOIN ui b
    ON a.user_id = b.user_id AND a.item <> b.item),
deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
it0 AS (
  SELECT d.src AS item, d.d, nn.n,
         CAST({PR_NANO} AS BIGINT) // nn.n AS pr_nano
  FROM deg d, nn){its}
SELECT item, d, pr_nano,
       round(CAST(pr_nano AS DOUBLE) / {PR_NANO}.0::DOUBLE, 9) AS pr
FROM {prev}
ORDER BY pr_nano DESC, item ASC LIMIT {PR_TOPK}
"""


def ev_item_pagerank_weighted(spark, sf):
    """WEIGHTED PageRank over the item co-click graph — the natural
    strengthening of [ev_item_pagerank] (round-6 verdict #7): the
    edge (a, b) carries weight w = number of capped users who
    co-clicked both items, each neighbor contribution is
    (pr_nano * w) div strength(src) where strength = sum of outgoing
    edge weights — so an item tied to its neighbors by MANY users
    outranks one tied by a single bot-adjacent user, which uniform
    PageRank cannot distinguish. Same exact fixed-point contract:
    every step is BIGINT (products stay < 2^63: pr_nano <= 1e9,
    w <= n_users), so DuckDB replays the identical trajectory.

    Scale shape: identical to the unweighted op — the capped pair
    join bounds a bot user at PR_CAP^2 pairs; the weight is FREE (the
    same groupBy that deduped pairs now counts them); each iteration
    is one join + one map-side-combinable sum; fixed iteration count
    keeps the plan a static chain."""
    e = T(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    ui = (e.filter(F.col("event_type") == "click")
          .select("user_id", k.alias("item")).distinct())
    w_cap = Window.partitionBy("user_id").orderBy("item")
    ui = (ui.withColumn("rk", F.row_number().over(w_cap))
          .filter(F.col("rk") <= PR_CAP).drop("rk"))
    # same lazy-localCheckpoint discipline as ev_item_pagerank
    # (round-7 plan audit): edges and the iterated rank table are
    # item-sized and multiply-consumed — lineage truncation kills the
    # 2^PR_ITERS tree blowup while plan build stays lazy
    edges = (ui.alias("a").join(ui.alias("b"), "user_id")
             .filter(F.col("a.item") != F.col("b.item"))
             .groupBy(F.col("a.item").alias("src"),
                      F.col("b.item").alias("dst"))
             .agg(F.count("*").alias("w"))
             .localCheckpoint(eager=False))
    strength = edges.groupBy("src").agg(F.sum("w").alias("sw"))
    n_nodes = strength.agg(F.count("*").alias("n"))
    pr = (strength.join(F.broadcast(n_nodes))
          .select(F.col("src").alias("item"), "sw",
                  F.expr(f"CAST({PR_NANO} AS BIGINT) div n")
                  .alias("pr_nano"), "n"))
    for _ in range(PR_ITERS):
        pr = pr.localCheckpoint(eager=False)
        contrib = (pr.join(edges, pr.item == edges.src)
                   .select(F.col("dst").alias("item"),
                           F.expr("(pr_nano * w) div sw").alias("c")))
        sums = contrib.groupBy("item").agg(F.sum("c").alias("s"))
        pr = (pr.drop("pr_nano").join(sums, "item", "left")
              .select("item", "sw", "n",
                      (F.expr(f"CAST({15 * PR_NANO // 100} AS BIGINT)"
                              " div n")
                       + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT)))"
                                " div 100")).alias("pr_nano")))
    return (pr.select("item", "sw", "pr_nano",
                      F.round(F.col("pr_nano").cast("double")
                              / F.lit(float(PR_NANO)), 9).alias("pr"))
            .orderBy(F.desc("pr_nano"), F.asc("item"))
            .limit(PR_TOPK))


def _pagerank_weighted_sql() -> str:
    teleport = f"(CAST({15 * PR_NANO // 100} AS BIGINT) // n)"
    its = ""
    prev = "it0"
    for i in range(1, PR_ITERS + 1):
        its += f""",
sums{i} AS (
  SELECT e.dst AS item,
         CAST(sum((p.pr_nano * e.w) // p.sw) AS BIGINT) AS s
  FROM {prev} p JOIN edges e ON e.src = p.item
  GROUP BY e.dst),
it{i} AS (
  SELECT p.item, p.sw, p.n,
         {teleport} + (85 * coalesce(s.s, CAST(0 AS BIGINT))) // 100
           AS pr_nano
  FROM (SELECT item, sw, n FROM {prev}) p
  LEFT JOIN sums{i} s ON s.item = p.item)"""
        prev = f"it{i}"
    return f"""
WITH ui0 AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'click'),
ui AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id ORDER BY item)
             AS rk
    FROM ui0) WHERE rk <= {PR_CAP}),
edges AS (
  SELECT a.item AS src, b.item AS dst, CAST(count(*) AS BIGINT) AS w
  FROM ui a JOIN ui b
    ON a.user_id = b.user_id AND a.item <> b.item
  GROUP BY a.item, b.item),
strength AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM edges GROUP BY src),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM strength),
it0 AS (
  SELECT s.src AS item, s.sw, nn.n,
         CAST({PR_NANO} AS BIGINT) // nn.n AS pr_nano
  FROM strength s, nn){its}
SELECT item, sw, pr_nano,
       round(CAST(pr_nano AS DOUBLE) / {PR_NANO}.0::DOUBLE, 9) AS pr
FROM {prev}
ORDER BY pr_nano DESC, item ASC LIMIT {PR_TOPK}
"""


def ev_degree_dist(spark, sf):
    """Log-binned degree distribution of the co-click item graph —
    the graph-health diagnostic read before any link-analysis run
    (power-law degree tails are why [ev_item_pagerank] caps per-user
    fan-out and [dd_containment] caps document frequency): bin =
    bit-length of the item's neighbor count (the sk_dd_quantile
    gamma-2 scheme), one row per occupied bin with its exact item
    count. All-integer, constant output size (<= 64 bins) at any
    corpus scale.

    Scale shape: the capped pair join bounds edge volume; degree is
    one map-side-combinable agg; the histogram is a second agg to
    <= 64 rows. Nothing downstream of the degree agg ever sees more
    than |items| rows."""
    e = T(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    ui = (e.filter(F.col("event_type") == "click")
          .select("user_id", k.alias("item")).distinct())
    w_cap = Window.partitionBy("user_id").orderBy("item")
    ui = (ui.withColumn("rk", F.row_number().over(w_cap))
          .filter(F.col("rk") <= PR_CAP).drop("rk"))
    edges = (ui.alias("a").join(ui.alias("b"), "user_id")
             .filter(F.col("a.item") != F.col("b.item"))
             .select(F.col("a.item").alias("src"),
                     F.col("b.item").alias("dst")).distinct())
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    b = F.length(F.conv(F.col("d").cast("string"), 10, 2)).cast("int")
    return (deg.groupBy(b.alias("b"))
            .agg(F.count("*").alias("n_items"))
            .select(
                "b",
                F.expr("shiftleft(CAST(1 AS BIGINT), b - 1)").alias("lo"),
                F.expr("shiftleft(CAST(1 AS BIGINT), b) - 1").alias("hi"),
                "n_items"))


EV_DEGREE_SQL = f"""
WITH ui0 AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'click'),
ui AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id ORDER BY item)
             AS rk
    FROM ui0) WHERE rk <= {PR_CAP}),
edges AS (
  SELECT DISTINCT a.item AS src, b.item AS dst
  FROM ui a JOIN ui b
    ON a.user_id = b.user_id AND a.item <> b.item),
deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src)
SELECT CAST(length(bin(d)) AS INT) AS b,
       (CAST(1 AS BIGINT) << (CAST(length(bin(d)) AS INT) - 1)) AS lo,
       (CAST(1 AS BIGINT) << CAST(length(bin(d)) AS INT)) - 1 AS hi,
       CAST(count(*) AS BIGINT) AS n_items
FROM deg GROUP BY length(bin(d))
"""


RULES_TOPK = 30
RULES_MIN_CO = 2   # min co-click users for a rule (= PMI_MIN_CO)


def ev_basket_rules(spark, sf):
    """Association rules over co-clicked items — the market-basket
    classic (Agrawal & Srikant 1994) and the DIRECTIONAL complement
    of [ev_pmi_pairs]' symmetric score: for an ordered rule a→b,
    support = users(a,b)/N, confidence = users(a,b)/users(a), lift =
    confidence / (users(b)/N). Confidence ranks what PMI cannot —
    a→b and b→a differ when the antecedent is niche — which is why
    recommender rules use it. Exact BIGINT evidence columns ride
    along; each float is one closed-form division of exact integers.

    Scale shape: identical to ev_pmi_pairs — PR_CAP bounds the
    per-user pair fan-out, one map-side-combinable pair count, item
    counts broadcast onto the n_ab >= RULES_MIN_CO survivors,
    TakeOrderedAndProject top-k."""
    e = T(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    ui = (e.filter(F.col("event_type") == "click")
          .select("user_id", k.alias("item")).distinct())
    w_cap = Window.partitionBy("user_id").orderBy("item")
    ui = (ui.withColumn("rk", F.row_number().over(w_cap))
          .filter(F.col("rk") <= PR_CAP).drop("rk"))
    n_total = ui.select("user_id").distinct().agg(
        F.count("*").alias("n_users"))
    item_n = ui.groupBy("item").agg(F.count("*").alias("n_item"))
    pairs = (ui.alias("a").join(ui.alias("b"), "user_id")
             .filter(F.col("a.item") != F.col("b.item"))
             .groupBy(F.col("a.item").alias("item_a"),
                      F.col("b.item").alias("item_b"))
             .agg(F.count("*").alias("n_ab"))
             .filter(F.col("n_ab") >= RULES_MIN_CO))
    na = item_n.select(F.col("item").alias("item_a"),
                       F.col("n_item").alias("n_a"))
    nb = item_n.select(F.col("item").alias("item_b"),
                       F.col("n_item").alias("n_b"))
    conf = F.col("n_ab").cast("double") / F.col("n_a").cast("double")
    return (pairs.join(F.broadcast(na), "item_a")
            .join(F.broadcast(nb), "item_b")
            .join(F.broadcast(n_total))
            .select("item_a", "item_b", "n_ab", "n_a", "n_b",
                    F.round(F.col("n_ab").cast("double")
                            / F.col("n_users").cast("double"), 6)
                    .alias("support"),
                    F.round(conf, 6).alias("confidence"),
                    F.round(conf * F.col("n_users").cast("double")
                            / F.col("n_b").cast("double"), 6)
                    .alias("lift"))
            .orderBy(F.desc("confidence"), F.asc("item_a"),
                     F.asc("item_b"))
            .limit(RULES_TOPK))


EV_RULES_SQL = f"""
WITH ui0 AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'click'),
ui AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id ORDER BY item)
             AS rk
    FROM ui0) WHERE rk <= {PR_CAP}),
nt AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM ui),
item_n AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_item
  FROM ui GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM ui a JOIN ui b
    ON a.user_id = b.user_id AND a.item <> b.item
  GROUP BY a.item, b.item HAVING count(*) >= {RULES_MIN_CO})
SELECT p.item_a, p.item_b, p.n_ab,
       na.n_item AS n_a, nb.n_item AS n_b,
       round(CAST(p.n_ab AS DOUBLE) / CAST(nt.n_users AS DOUBLE), 6)
         AS support,
       round(CAST(p.n_ab AS DOUBLE) / CAST(na.n_item AS DOUBLE), 6)
         AS confidence,
       round(CAST(p.n_ab AS DOUBLE) / CAST(na.n_item AS DOUBLE)
             * CAST(nt.n_users AS DOUBLE)
             / CAST(nb.n_item AS DOUBLE), 6) AS lift
FROM pairs p
JOIN item_n na ON na.item = p.item_a
JOIN item_n nb ON nb.item = p.item_b, nt
ORDER BY confidence DESC, item_a ASC, item_b ASC
LIMIT {RULES_TOPK}
"""


def ev_holdout_lift(spark, sf):
    """Hash-holdout experiment readout — the A/B analysis every
    event pipeline ends in: users are deterministically split by
    user_id parity (the hash-based holdout a pipeline uses when no
    assignment service exists), conversion = fraction of a variant's
    active users with >= 1 purchase, and the readout is conversion
    per arm, relative lift, and the pooled two-proportion z statistic.
    The integer evidence (user and converter counts per arm) rides
    along; lift and z are single closed-form expressions over those
    exact integers, so both engines compute bit-identical doubles.

    Scale shape: two map-side-combinable distinct-user aggs (the
    count_distinct shuffles on user_id — unavoidable for exact
    per-user semantics; the sketch familiy's [sk_kmv_distinct] is the
    approximate alternative at 10^12 events); the final math runs on
    a 2-row table."""
    e = T(spark, sf, "events")
    per = (e.select("user_id",
                    (F.col("user_id") % 2).alias("variant"),
                    (F.col("event_type") == "purchase").alias("conv"))
           .groupBy("variant")
           .agg(F.count_distinct("user_id").alias("n_users"),
                F.count_distinct(
                    F.when(F.col("conv"), F.col("user_id")))
                .alias("n_conv")))
    c = per.filter(F.col("variant") == 0).select(
        F.col("n_users").alias("n_c"), F.col("n_conv").alias("conv_c"))
    t = per.filter(F.col("variant") == 1).select(
        F.col("n_users").alias("n_t"), F.col("n_conv").alias("conv_t"))
    j = c.join(t)
    p0 = F.col("conv_c").cast("double") / F.col("n_c").cast("double")
    p1 = F.col("conv_t").cast("double") / F.col("n_t").cast("double")
    pp = ((F.col("conv_c") + F.col("conv_t")).cast("double")
          / (F.col("n_c") + F.col("n_t")).cast("double"))
    z = (p1 - p0) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_c").cast("double")
           + F.lit(1.0) / F.col("n_t").cast("double")))
    # degenerate guards, mirrored in the oracle: zero control
    # conversion → lift undefined (NULL); pooled p of 0 or 1 → zero
    # variance → z undefined (NULL). Spark ANSI mode THROWS on /0
    # while DuckDB returns NULL, so both cases must be explicit.
    lift = F.when(F.col("conv_c") > 0, p1 / p0 - F.lit(1.0))
    z = F.when(
        (F.col("conv_c") + F.col("conv_t") > 0)
        & (F.col("conv_c") + F.col("conv_t")
           < F.col("n_c") + F.col("n_t")), z)
    return j.select(
        "n_c", "conv_c", "n_t", "conv_t",
        F.round(lift, 6).alias("lift"),
        F.round(z, 6).alias("z_score"))


EV_HOLDOUT_SQL = """
WITH per AS (
  SELECT user_id % 2 AS variant,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                  THEN user_id END) AS BIGINT)
           AS n_conv
  FROM events GROUP BY 1)
SELECT c.n_users AS n_c, c.n_conv AS conv_c,
       t.n_users AS n_t, t.n_conv AS conv_t,
       round(CASE WHEN c.n_conv > 0 THEN
             (CAST(t.n_conv AS DOUBLE) / CAST(t.n_users AS DOUBLE))
             / (CAST(c.n_conv AS DOUBLE) / CAST(c.n_users AS DOUBLE))
             - 1.0::DOUBLE END, 6) AS lift,
       round(CASE WHEN c.n_conv + t.n_conv > 0
                   AND c.n_conv + t.n_conv < c.n_users + t.n_users
             THEN
             ((CAST(t.n_conv AS DOUBLE) / CAST(t.n_users AS DOUBLE))
              - (CAST(c.n_conv AS DOUBLE) / CAST(c.n_users AS DOUBLE)))
             / sqrt((CAST(c.n_conv + t.n_conv AS DOUBLE)
                     / CAST(c.n_users + t.n_users AS DOUBLE))
                    * (1.0::DOUBLE
                       - CAST(c.n_conv + t.n_conv AS DOUBLE)
                         / CAST(c.n_users + t.n_users AS DOUBLE))
                    * (1.0::DOUBLE / CAST(c.n_users AS DOUBLE)
                       + 1.0::DOUBLE / CAST(t.n_users AS DOUBLE)))
             END, 6)
         AS z_score
FROM (SELECT n_users, n_conv FROM per WHERE variant = 0) c,
     (SELECT n_users, n_conv FROM per WHERE variant = 1) t
"""


HITS_ITERS = 3
HITS_UNIT = 1_000_000   # fixed-point micro unit (headroom: sums of
                        # n_users*UNIT must stay < 2^63 — fine to
                        # ~10^12 users, far past any real corpus)
HITS_TOPK = 20


def ev_hits(spark, sf):
    """HITS hubs & authorities (Kleinberg 1999) over the bipartite
    user→item click graph — the OTHER classic link-analysis fixed
    point beside [ev_item_pagerank]: authority(item) = sum of hub
    scores of users clicking it, hub(user) = sum of authorities of
    their items, re-normalized each iteration. Exact fixed point:
    scores live in integer MICRO units and each normalization is
    (score * UNIT) div max(score) — the L∞ norm, a max (order-free)
    rather than an L2 float sum — so every step is BIGINT and DuckDB
    replays the identical trajectory. Emits the HITS_TOPK items by
    authority with the exact fixed-point value as evidence.

    Scale shape: the same PR_CAP per-user cap bounds edges; each
    half-iteration is one join + one map-side-combinable sum; the
    norm is a 1-row broadcast; fixed iteration count keeps the plan
    a static chain, no driver-side convergence probes."""
    e = T(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    ui = (e.filter(F.col("event_type") == "click")
          .select("user_id", k.alias("item")).distinct())
    w_cap = Window.partitionBy("user_id").orderBy("item")
    # edges feeds both halves of every iteration; each raw score table
    # feeds its own max AND the normalize join — without lineage
    # truncation the unrolled tree re-derives them 2x per
    # half-iteration (2^6 edge scans at 3 iterations; round-7 plan
    # audit). LAZY localCheckpoint keeps plan build lazy; every
    # truncated table is item/user-sized, never event-sized.
    edges = (ui.withColumn("rk", F.row_number().over(w_cap))
             .filter(F.col("rk") <= PR_CAP).drop("rk")
             .localCheckpoint(eager=False))
    hub = (edges.select("user_id").distinct()
           .select("user_id",
                   F.lit(HITS_UNIT).cast("long").alias("h")))
    auth = None
    for _ in range(HITS_ITERS):
        a_raw = (edges.join(hub, "user_id")
                 .groupBy("item").agg(F.sum("h").alias("ar"))
                 .localCheckpoint(eager=False))
        a_max = a_raw.agg(F.max("ar").alias("am"))
        auth = (a_raw.join(F.broadcast(a_max))
                .select("item",
                        F.expr(f"(ar * CAST({HITS_UNIT} AS BIGINT))"
                               " div am").alias("a")))
        h_raw = (edges.join(auth, "item")
                 .groupBy("user_id").agg(F.sum("a").alias("hr"))
                 .localCheckpoint(eager=False))
        h_max = h_raw.agg(F.max("hr").alias("hm"))
        hub = (h_raw.join(F.broadcast(h_max))
               .select("user_id",
                       F.expr(f"(hr * CAST({HITS_UNIT} AS BIGINT))"
                              " div hm").alias("h")))
    return (auth.select(
        "item", F.col("a").alias("auth_fix"),
        F.round(F.col("a").cast("double") / F.lit(float(HITS_UNIT)),
                9).alias("authority"))
        .orderBy(F.desc("auth_fix"), F.asc("item"))
        .limit(HITS_TOPK))


def _hits_sql() -> str:
    body = ""
    prev_h = "h0"
    for i in range(1, HITS_ITERS + 1):
        body += f""",
araw{i} AS (
  SELECT e.item, CAST(sum(p.h) AS BIGINT) AS ar
  FROM edges e JOIN {prev_h} p ON p.user_id = e.user_id
  GROUP BY e.item),
a{i} AS (
  SELECT item,
         (ar * CAST({HITS_UNIT} AS BIGINT))
           // (SELECT max(ar) FROM araw{i}) AS a
  FROM araw{i}),
hraw{i} AS (
  SELECT e.user_id, CAST(sum(a.a) AS BIGINT) AS hr
  FROM edges e JOIN a{i} a ON a.item = e.item
  GROUP BY e.user_id),
h{i} AS (
  SELECT user_id,
         (hr * CAST({HITS_UNIT} AS BIGINT))
           // (SELECT max(hr) FROM hraw{i}) AS h
  FROM hraw{i})"""
        prev_h = f"h{i}"
    return f"""
WITH ui0 AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'click'),
edges AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id ORDER BY item)
             AS rk
    FROM ui0) WHERE rk <= {PR_CAP}),
h0 AS (
  SELECT DISTINCT user_id, CAST({HITS_UNIT} AS BIGINT) AS h
  FROM edges){body}
SELECT item, a AS auth_fix,
       round(CAST(a AS DOUBLE) / {HITS_UNIT}.0::DOUBLE, 9)
         AS authority
FROM a{HITS_ITERS}
ORDER BY auth_fix DESC, item ASC LIMIT {HITS_TOPK}
"""


def ev_markov_transitions(spark, sf):
    """First-order Markov transition matrix over per-user event-type
    sequences — the sequence-modeling primitive behind next-action
    prediction and funnel diagnostics: order each user's events by
    (ts, event_id), count (current -> next) type pairs, and emit
    P(next | current) alongside the exact BIGINT counts (the count
    columns pin the evidence; the probability is one division of
    exact integers). Deterministic ordering: the (ts, event_id) sort
    key is unique per user.

    Scale shape: ONE shuffle (the per-user window sort) — lag() is
    computed in the same WindowExec; the transition rollup is a
    map-side-combinable hash agg over at most |event_types|^2 = 25
    result rows, and the per-current totals broadcast back."""
    e = T(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (e.select("user_id", "ts", "event_id", "event_type")
             .withColumn("next_type",
                         F.lead("event_type").over(w))
             .filter(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("cur"),
                      F.col("next_type").alias("nxt"))
             .agg(F.count("*").alias("n")))
    totals = pairs.groupBy("cur").agg(F.sum("n").alias("n_cur"))
    return (pairs.join(F.broadcast(totals), "cur")
            .select("cur", "nxt", "n", "n_cur",
                    F.round(F.col("n").cast("double")
                            / F.col("n_cur").cast("double"), 6)
                    .alias("p"))
            .orderBy("cur", "nxt"))


EV_MARKOV_SQL = """
WITH pairs AS (
  SELECT event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events),
counts AS (
  SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE nxt IS NOT NULL
  GROUP BY cur, nxt),
totals AS (
  SELECT cur, CAST(sum(n) AS BIGINT) AS n_cur
  FROM counts GROUP BY cur)
SELECT c.cur, c.nxt, c.n, t.n_cur,
       round(CAST(c.n AS DOUBLE) / CAST(t.n_cur AS DOUBLE), 6) AS p
FROM counts c JOIN totals t ON t.cur = c.cur
ORDER BY c.cur, c.nxt
"""


PMI_MIN_CO = 2   # min co-click users for a pair to be scored
PMI_TOPK = 30


def ev_pmi_pairs(spark, sf):
    """Pointwise mutual information over co-clicked item pairs — the
    association-mining primitive behind related-items and phrase
    detection: PMI(a,b) = ln(n_ab * N / (n_a * n_b)) over DISTINCT
    user sets (n_a = users who clicked a, n_ab = users who clicked
    both, N = all clicking users). Positive PMI = the pair co-occurs
    more than independence predicts. The score is a single ln of an
    exact BIGINT rational — and the exact counts n_ab/n_a/n_b are
    emitted alongside, so the hash pins the integer evidence, not
    just the float.

    Scale shape: the same PR_CAP per-user cap as ev_item_pagerank
    bounds a bot user to CAP^2 pairs; the pair count is one
    map-side-combinable hash agg; item user-counts broadcast back
    onto the bounded pair set; final top-k is TakeOrderedAndProject
    over the rounded score."""
    e = T(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    ui = (e.filter(F.col("event_type") == "click")
          .select("user_id", k.alias("item")).distinct())
    w_cap = Window.partitionBy("user_id").orderBy("item")
    ui = (ui.withColumn("rk", F.row_number().over(w_cap))
          .filter(F.col("rk") <= PR_CAP).drop("rk"))
    n_total = ui.select("user_id").distinct().agg(
        F.count("*").alias("n_users"))
    item_n = ui.groupBy("item").agg(F.count("*").alias("n_item"))
    pairs = (ui.alias("a").join(ui.alias("b"), "user_id")
             .filter(F.col("a.item") < F.col("b.item"))
             .groupBy(F.col("a.item").alias("item_a"),
                      F.col("b.item").alias("item_b"))
             .agg(F.count("*").alias("n_ab"))
             .filter(F.col("n_ab") >= PMI_MIN_CO))
    na = item_n.select(F.col("item").alias("item_a"),
                       F.col("n_item").alias("n_a"))
    nb = item_n.select(F.col("item").alias("item_b"),
                       F.col("n_item").alias("n_b"))
    pmi = F.log(F.col("n_ab").cast("double") * F.col("n_users")
                / (F.col("n_a") * F.col("n_b")).cast("double"))
    return (pairs.join(F.broadcast(na), "item_a")
            .join(F.broadcast(nb), "item_b")
            .join(F.broadcast(n_total))
            .select("item_a", "item_b", "n_ab", "n_a", "n_b",
                    F.round(pmi, 6).alias("pmi"))
            .orderBy(F.desc("pmi"), F.asc("item_a"), F.asc("item_b"))
            .limit(PMI_TOPK))


EV_PMI_SQL = f"""
WITH ui0 AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE event_type = 'click'),
ui AS (
  SELECT user_id, item FROM (
    SELECT user_id, item,
           row_number() OVER (PARTITION BY user_id ORDER BY item)
             AS rk
    FROM ui0) WHERE rk <= {PR_CAP}),
nt AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM ui),
item_n AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_item
  FROM ui GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         CAST(count(*) AS BIGINT) AS n_ab
  FROM ui a JOIN ui b
    ON a.user_id = b.user_id AND a.item < b.item
  GROUP BY a.item, b.item
  HAVING count(*) >= {PMI_MIN_CO})
SELECT p.item_a, p.item_b, p.n_ab,
       na.n_item AS n_a, nb.n_item AS n_b,
       round(ln(CAST(p.n_ab AS DOUBLE) * nt.n_users
                / CAST(na.n_item * nb.n_item AS DOUBLE)), 6) AS pmi
FROM pairs p
JOIN item_n na ON na.item = p.item_a
JOIN item_n nb ON nb.item = p.item_b, nt
ORDER BY pmi DESC, item_a ASC, item_b ASC LIMIT {PMI_TOPK}
"""


QUERIES: dict[str, tuple] = {
    "ev_pmi_pairs": (ev_pmi_pairs, EV_PMI_SQL),
    "ev_markov_transitions": (ev_markov_transitions, EV_MARKOV_SQL),
    "ev_item_pagerank": (ev_item_pagerank, _pagerank_sql()),
    "ev_item_pagerank_weighted": (
        ev_item_pagerank_weighted, _pagerank_weighted_sql()),
    "ev_hits": (ev_hits, _hits_sql()),
    "ev_holdout_lift": (ev_holdout_lift, EV_HOLDOUT_SQL),
    "ev_basket_rules": (ev_basket_rules, EV_RULES_SQL),
    "ev_degree_dist": (ev_degree_dist, EV_DEGREE_SQL),
    "ev_sessionize": (ev_sessionize, EV_SESSION_SQL),
    "ev_tumbling": (ev_tumbling, EV_TUMBLING_SQL),
    "ev_hopping": (ev_hopping, EV_HOPPING_SQL),
    "ev_moving_stats": (ev_moving_stats, EV_MOVING_SQL),
    "ev_pivot": (ev_pivot, EV_PIVOT_SQL),
    "ev_ranks": (ev_ranks, EV_RANKS_SQL),
    "ev_quantiles": (ev_quantiles, EV_QUANTILES_SQL),
    "ev_funnel": (ev_funnel, EV_FUNNEL_SQL),
    "ev_retention": (ev_retention, EV_RETENTION_SQL),
    "p_unpivot": (p_unpivot, P_UNPIVOT_SQL),
    "q5_local_supplier": (q5_local_supplier, Q5_SQL),
    "aj_asof_join": (aj_asof_join, AJ_ASOF_SQL),
    "a13_rollup": (a13_rollup, A13_SQL),
    "q3_shipping_topk": (q3_shipping_topk, Q3_SQL),
    "f1_min_size": (f1_min_size, F1_SQL),
    "f2_min_quality": (f2_min_quality, F2_SQL),
    "f4_validity": (f4_validity, F4_SQL),
    "f5_threshold": (f5_threshold, F5_SQL),
    "f7_range_slice": (f7_range_slice, F7_SQL),
    "f9_title_candidate": (f9_title_candidate, F9_SQL),
    "j1_packaging_join": (j1_packaging_join, J1_SQL),
    "j2_range_join": (j2_range_join, J2_SQL),
    "j3_anti_verify": (j3_anti_verify, J3_SQL),
    "j4_resume_anti": (j4_resume_anti, J4_SQL),
    "j5_semi": (j5_semi, J5_SQL),
    "a1_count_by_method": (a1_count_by_method, A1_SQL),
    "a2_count_by_type": (a2_count_by_type, A2_SQL),
    "a3_quality_histogram": (a3_quality_histogram, A3_SQL),
    "a4_distinct_with_content": (a4_distinct_with_content, A4_SQL),
    "a5_bool_rate": (a5_bool_rate, A5_SQL),
    "a6_mode": (a6_mode, A6_SQL),
    "a7_completeness": (a7_completeness, A7_SQL),
    "a8_numeric_pct": (a8_numeric_pct, A8_SQL),
    "a9_empty_pct": (a9_empty_pct, A9_SQL),
    "a10_type_consistency": (a10_type_consistency, A10_SQL),
    "a11_grand_totals": (a11_grand_totals, A11_SQL),
    "w1_row_number": (w1_row_number, W1_SQL),
    "w3_topk": (w3_topk, W3_SQL),
    "w4_sorted_counts": (w4_sorted_counts, W4_SQL),
    "l1_limit": (l1_limit, L1_SQL),
    "u1_union": (u1_union, U1_SQL),
    "u2_except": (u2_except, U2_SQL),
    "u3_distinct": (u3_distinct, U3_SQL),
    "u4_intersect": (u4_intersect, U4_SQL),
    "f10_scalar_subquery": (f10_scalar_subquery, F10_SQL),
    "j6_exists_correlated": (j6_exists_correlated, J6_SQL),
    "q18_big_orders": (q18_big_orders, Q18_SQL),
    "a14_cube": (a14_cube, A14_SQL),
    "a16_grouping_sets": (a16_grouping_sets, A16_SQL),
    "a15_dispersion": (a15_dispersion, A15_SQL),
    "d1_dedup_hash": (d1_dedup_hash, D1_SQL),
}
